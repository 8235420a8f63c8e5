package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library front door: make a SparkSession speak the engine's
  * dialect the way a ClickHouse user expects — named tables + SQL.
  *
  * After `Graft.init(spark, sfDir)` every fixture table is a temp
  * view and the custom functions (cosine_sim, shingle_rows) are
  * registered, so `spark.sql("SELECT ... FROM lineitem ...")` runs
  * directly — Catalyst plans it identically to the DataFrame forms
  * used in the declared queries.
  */
object Graft {

  /** Register all fixture tables as temp views + custom functions +
    * the ClickHouse-spelled function dialect (sipHash64, toStartOfDay,
    * lengthUTF8, multiIf, … — see [[graft.functions.ChDialect]]).
    *
    * Views are RE-POINTED on every call (cheap: schema reads cache in
    * the session's FileIndex) so a prior ALTER/INSERT/TRUNCATE
    * snapshot never leaks into the next caller's fixture state;
    * parameterized aggregates — windowFunnel(w)(…), topK(k)(…) — need
    * no registration here: ChSql's parametric rewrite registers their
    * UDAFs on demand per (function, parameters).
    */
  def init(spark: SparkSession, dir: String): Unit = {
    // Pin the session timezone: the fixture's tz-naive timestamps are
    // cast to TIMESTAMP under the session zone (Tables.scala), so a
    // consumer-built non-UTC session would silently shift every
    // events.ts value. CH's analog is the server timezone; this
    // library's contract is UTC (the setting of Harness.session, which
    // every bundled main uses).
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Function registrations are per-SESSION state that no statement
    // un-registers — do them once: ~45 custom expressions, ~480
    // builder, alias and UDF names, and ~365 macros whose bodies are
    // parsed on their first call, not here. A throw mid-registration
    // leaves the session unmarked for a clean retry, never
    // half-registered (UNRESOLVED_ROUTINE on toString/dictGet/…).
    SessionCache(spark).once("graft.init") {
      GraftFunctions.register(spark)
      graft.functions.ChDialect.register(spark)
      // unparameterized custom Aggregators under their CH spellings
      spark.udf.register("groupBitmap",
        org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.GroupBitmap))
      // uniqTheta at the default capacity: the sketch column (k-min
      // hash array) — combine with size/array_union/… for estimates
      spark.udf.register("uniqTheta",
        org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.ThetaSketch(4096)))
      graft.plans.LimitByPlan.install(spark)
      graft.plans.DedupAggregateCalls.install(spark)
    }
    Tables.names.foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(t)
    }
    ChSql.setDataDir(spark, dir)
  }

  /** SQL entry point (sugar; views must be registered via init).
    * [[ChSql]] handles the spellings and clauses that need
    * PARSER-level routing — `dateDiff('unit', …)`, `SAMPLE f`,
    * `GROUP BY … WITH TOTALS`, `ORDER BY … WITH FILL`, `LIMIT n BY` —
    * everything else resolves through the function registry
    * ([[graft.functions.ChDialect]]).
    */
  def sql(spark: SparkSession, query: String): DataFrame =
    ChSql.run(spark, query)
}
