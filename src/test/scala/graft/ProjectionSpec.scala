package graft

import graft.plans.Projections
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MergeTree-projection auto-rewrite: the optimizer must answer a
  * matching base-table aggregate from the materialized pre-aggregate
  * (plan proof), with results identical to the un-rewritten query
  * (value proof), and must NOT fire for non-derivable aggregates.
  */
class ProjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private val projPath =
    s"${System.getProperty("java.io.tmpdir")}/graft_proj_spec/orders_by_status"

  private def query() = Tables(spark, dir, "orders")
    .groupBy($"o_orderstatus")
    .agg(count(lit(1)).as("n"),
      sum($"o_totalprice".cast("decimal(22,6)")).as("rev"),
      min($"o_totalprice").as("lo"),
      max($"o_totalprice").as("hi"))
    .orderBy($"o_orderstatus")

  test("aggregate over the base table is answered from the projection") {
    val before = query().collect() // rule not installed yet for this def
    Projections.materialize(spark, "spec_orders_by_status",
      s"$dir/orders.parquet", projPath,
      Seq("o_orderstatus", "o_orderpriority"),
      Seq(Projections.Measure("sum", "CAST(o_totalprice AS DECIMAL(22,6))", "sum_price"),
        Projections.Measure("count", "1", "cnt"),
        Projections.Measure("min", "o_totalprice", "min_price"),
        Projections.Measure("max", "o_totalprice", "max_price")))
    Projections.install(spark)

    val df = query()
    // the logical plan prints relations without paths; the partial
    // columns prove the swap, and the executed plan shows the location
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("sum_price") && plan.contains("cnt"),
      s"expected projection scan in plan:\n$plan")
    assert(df.queryExecution.executedPlan.toString.contains("orders_by_status"))
    assert(df.collect().toSeq == before.toSeq)
  }

  test("filters on projection dims are remapped onto the projection") {
    Projections.install(spark)
    val df = Tables(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")
    assert(df.queryExecution.optimizedPlan.toString.contains("cnt"))
    assert(df.queryExecution.executedPlan.toString.contains("orders_by_status"))
    val expected = Tables(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .groupBy($"o_orderstatus").count().orderBy($"o_orderstatus")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == expected)
  }

  test("avg and count(DISTINCT dim) derive from stored partials") {
    val base = Tables(spark, dir, "orders")
    def derived() = base.groupBy($"o_orderstatus")
      .agg(avg($"o_totalprice").as("avg_price"),
        countDistinct($"o_orderpriority").as("n_prio"))
      .orderBy($"o_orderstatus")
    val before = derived().collect() // may be pre-rewrite or not; values only
    Projections.materialize(spark, "spec_orders_derived",
      s"$dir/orders.parquet",
      s"${System.getProperty("java.io.tmpdir")}/graft_proj_spec/orders_derived",
      Seq("o_orderstatus", "o_orderpriority"),
      Seq(Projections.Measure("sum", "o_totalprice", "sum_price_d"),
        Projections.Measure("count", "1", "cnt")))
    Projections.install(spark)
    val df = derived()
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("sum_price_d"), s"avg not derived:\n$plan")
    assert(df.queryExecution.executedPlan.toString.contains("orders_derived"))
    val got = df.collect()
    assert(got.length == before.length)
    before.zip(got).foreach { case (b, g) =>
      assert(b.getString(0) == g.getString(0))
      assert(math.abs(b.getDouble(1) - g.getDouble(1)) < 1e-6)
      assert(b.getLong(2) == g.getLong(2))
    }
  }

  test("avg does NOT derive when the count partial is missing") {
    Projections.materialize(spark, "spec_orders_nocnt",
      s"$dir/orders.parquet",
      s"${System.getProperty("java.io.tmpdir")}/graft_proj_spec/orders_nocnt",
      Seq("o_orderstatus"),
      Seq(Projections.Measure("sum", "o_totalprice", "s_only")))
    Projections.install(spark)
    // group ONLY by this projection's dim so only spec_orders_nocnt
    // could match; avg needs cnt → no rewrite, base scan stays
    val df = Tables(spark, dir, "orders")
      .filter($"o_orderstatus" === "F") // filter col is the dim too
      .groupBy($"o_orderstatus")
      .agg(avg($"o_totalprice").as("a"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("s_only"), s"avg must not derive without cnt:\n$plan")
  }

  test("a rewritten base table invalidates the projection (staleness gate)") {
    val tmpBase = s"${System.getProperty("java.io.tmpdir")}/graft_proj_spec/stale_base"
    val tmpProj = s"${System.getProperty("java.io.tmpdir")}/graft_proj_spec/stale_proj"
    Tables(spark, dir, "orders").write.mode("overwrite").parquet(tmpBase)
    Projections.materialize(spark, "spec_stale", tmpBase, tmpProj,
      Seq("o_orderstatus"),
      Seq(Projections.Measure("count", "1", "cnt")))
    Projections.install(spark)
    def q() = spark.read.parquet(tmpBase)
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    assert(q().queryExecution.executedPlan.toString.contains("stale_proj"))
    // rewrite the base: half the rows — the old projection is now wrong
    Thread.sleep(1100) // directory mtime granularity can be 1 s
    spark.read.parquet(tmpBase).filter($"o_orderkey" % 2 === 0)
      .write.mode("overwrite").parquet(tmpBase + "_next")
    // overwrite in place via a second write (mtime bumps on rewrite)
    spark.read.parquet(tmpBase + "_next").write.mode("overwrite").parquet(tmpBase)
    val after = q()
    assert(!after.queryExecution.executedPlan.toString.contains("stale_proj"),
      "stale projection must not answer after base rewrite")
    // and the answer reflects the NEW base, not the snapshot
    val total = after.collect().map(_.getLong(1)).sum
    val base = spark.read.parquet(tmpBase).count()
    assert(total == base)
  }

  test("non-derivable aggregates leave the base scan untouched") {
    Projections.install(spark)
    // avg isn't a stored partial; distinct isn't derivable; a filter on
    // a non-dim column blocks the rewrite
    val avgQ = Tables(spark, dir, "orders")
      .groupBy($"o_orderstatus").agg(avg($"o_totalprice").as("a"))
    assert(!avgQ.queryExecution.executedPlan.toString.contains("orders_by_status"))
    val distinctQ = Tables(spark, dir, "orders")
      .groupBy($"o_orderstatus").agg(countDistinct($"o_custkey").as("u"))
    assert(!distinctQ.queryExecution.executedPlan.toString.contains("orders_by_status"))
    val filterQ = Tables(spark, dir, "orders")
      .filter($"o_custkey" > 100)
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    assert(!filterQ.queryExecution.executedPlan.toString.contains("orders_by_status"))
  }

  test("a base with a part inserted after materialize is not answered from the projection") {
    Graft.sql(spark, "CREATE TABLE proj_parts ENGINE = MergeTree ORDER BY k AS " +
      "SELECT number AS k, CAST(number % 3 AS INT) AS g FROM numbers(30)")
    val base = spark.table("proj_parts").inputFiles
      .map(f => new java.io.File(new java.net.URI(f).getPath).getParent).distinct
    assert(base.length == 1)
    Projections.materialize(spark, "spec_parts_by_g", base.head,
      s"${System.getProperty("java.io.tmpdir")}/graft_proj_spec/parts_by_g",
      Seq("g"), Seq(Projections.Measure("count", "1", "parts_cnt")))
    Projections.install(spark)
    def q() = spark.table("proj_parts").groupBy($"g").agg(count(lit(1)).as("n"))
    assert(q().queryExecution.optimizedPlan.toString.contains("parts_cnt"))
    Graft.sql(spark, "INSERT INTO proj_parts SELECT number + 100 AS k, " +
      "CAST(0 AS INT) AS g FROM numbers(5)")
    val after = q()
    assert(!after.queryExecution.optimizedPlan.toString.contains("parts_cnt"),
      "a projection of the first part must not answer for base plus a new part")
    assert(after.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(0 -> 15L, 1 -> 10L, 2 -> 10L))
    Graft.sql(spark, "DROP TABLE proj_parts")
  }
}
