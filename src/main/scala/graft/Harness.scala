package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one setup every bundled main (Bench, Lab, Explain, NoFallback,
  * Stress, Verify) runs under, so their timings and plans are taken at
  * the same parallelism: a local session, the noop-write force and the
  * untimed warmup.
  */
object Harness {

  /** Executor threads: `SPARK_GRAFT_CPUS`, else every core this JVM
    * may use (32 on a 32-core box).
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every conf the harness sets for `n` executor threads: the master,
    * `n` shuffle partitions, UTC, nanosecond parquet timestamps as
    * longs, no UI, [[Tuned.defaults]], then `extra`. Each but the
    * master is dropped when a system property already names its key
    * (`SPARK_GRAFT_JAVA_OPTS="-Dk=v"`), the rule `Tuned` uses, so a
    * `-D` wins over every harness setting.
    */
  def settings(n: Int, extra: Seq[(String, String)] = Nil): Seq[(String, String)] =
    ("spark.master" -> s"local[$n]") +: (Seq(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ Tuned.defaults ++ extra)
      .filterNot { case (k, _) => sys.props.contains(k) }

  /** The local session at [[cpus]] executor threads. */
  def session(extra: (String, String)*): SparkSession =
    settings(cpus, extra).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  /** Runs every row and projected column of `df` and keeps nothing
    * (`count()` would let Catalyst prune unreferenced expressions).
    */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed warmup, one query per heavyweight codegen family (scan +
    * agg, grouping sets, window): pays JVM class loading and codegen
    * once, outside any timed loop. A cold grouping-sets plan alone
    * costs ~5 s of generated-class compilation that otherwise lands on
    * the first timed run. A failing warmup query is left to the timed
    * runs to report.
    */
  def warmup(spark: SparkSession, sfDir: String,
             queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)
      : Unit =
    Seq("q1_flagship", "agg_rollup", "window_rank").filter(queries.contains)
      .foreach { n =>
        try force(queries(n)(spark, sfDir)) catch { case _: Throwable => () }
      }
}
