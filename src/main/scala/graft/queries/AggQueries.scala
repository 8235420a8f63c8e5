package graft.queries

import graft.{Det, Graft, QDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 aggregation depth: DISTINCT aggregates, exact
  * quantiles, argMin/argMax, collect (groupArray), moments,
  * ROLLUP/CUBE/GROUPING SETS, WITH TOTALS, combinator rewrites
  * (`-If`, avgWeighted, deltaSum, entropy, uniqUpTo, retention,
  * boundingRatio, maxIntersections), bit aggregates, sumMap, topK
  * (exact rewrite), histogram, regression.
  *
  * Everything here is a Spark builtin or a rewrite — ClickHouse's
  * aggregator machinery (partial/final phases, spill, two-level hash)
  * is HashAggregateExec, which Catalyst supplies. Custom
  * Aggregator-based functions (windowFunnel/sequenceMatch/topK-sketch)
  * live in FunnelQueries.
  *
  * Determinism at any executor count: every double SUM goes through
  * DECIMAL(22,6) (exact, associative — see [[graft.Det]]); variance /
  * covariance are computed FROM those exact decimal sums with plain
  * double arithmetic, evaluated identically by Spark and DuckDB, so
  * results are bit-stable no matter how Spark splits partial aggs.
  */
object AggQueries {

  /** Exact decimal sum cast back to double (no rounding) — building
    * block for moment formulas. Identical text works in both dialects.
    */
  private def sqlSumD(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(22,6))) AS DOUBLE)"

  val defs: Seq[QDef] = Seq(

    // uniqExact / multi-distinct (§2.4): two-level distinct agg —
    // Catalyst's RewriteDistinctAggregates expands this to a
    // partial-agg-friendly plan (scale-safe, no driver collect).
    QDef("agg_count_distinct", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_suppkey").as("u_supp"),
          countDistinct($"l_partkey").as("u_part"),
          countDistinct($"l_suppkey", $"l_partkey").as("u_pair"))
        .orderBy($"l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS u_supp,
             count(DISTINCT l_partkey) AS u_part,
             count(DISTINCT (l_suppkey, l_partkey)) AS u_pair
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // uniqUpTo(N): distinct count saturating at N.
    QDef("agg_uniq_upto", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy($"user_id")
        .agg(least(countDistinct($"event_type"), lit(3)).as("types_upto3"))
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id,
             least(count(DISTINCT event_type), 3) AS types_upto3
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // quantile/quantiles/median — exact interpolated percentiles
    // (ClickHouse quantileExact*; Spark `percentile` ≡ DuckDB
    // `quantile_cont`). The quartile LIST is serialized to a joined
    // string: the driver's pandas gate can't sort/hash array cells.
    QDef("agg_quantiles", (s, dir) => {
      import s.implicits._
      // graft_quantile_exact: primitive-vector state with the
      // builtin's EXACT interpolation arithmetic — hash-identical
      // results, ~2× faster than `percentile`'s boxed OpenHashMap on
      // this 600k-row shape (round 12)
      graft.functions.GraftFunctions.register(s)
      Tables(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          round(expr(
            "graft_quantile_exact(CAST(l_quantity AS DOUBLE), 0.5D)"), 4)
            .as("med_qty"),
          expr("""array_join(transform(
                    graft_quantile_exact(CAST(l_extendedprice AS DOUBLE),
                                         array(0.25D, 0.5D, 0.75D)),
                    x -> CAST(round(x, 4) AS STRING)), ',')""")
            .as("price_quartiles"))
        .orderBy($"l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
             array_to_string(list_transform(
               quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]),
               x -> CAST(round(x, 4) AS VARCHAR)), ',') AS price_quartiles
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // quantileDD / quantilesDD (r19 — CH's DDSketch quantile): unlike
    // t-digest, the DDSketch state is a pure function of the value
    // multiset (log-bucket counts, γ = (1+α)/(1−α)), so the WHOLE
    // sketch is re-derived from scratch in DuckDB and hash-checked —
    // bucket ⌈ln|x|/ln γ⌉ (mirrored for negatives, exact zero bucket),
    // cumulative walk in ascending value order, first bucket whose
    // running count exceeds q·(n−1), estimate ±2γ^i/(γ+1). ln γ and γ
    // are injected as IDENTICAL double literals on both sides; the
    // shifted column exercises the negative + zero paths. Runs through
    // Graft.sql so the gate covers the parametric-rewrite path too.
    QDef("agg_quantile_dd", (s, dir) => {
      Graft.init(s, dir)
      Graft.sql(s, """
        SELECT round(quantileDD(0.01, 0.5)(toFloat64(l_quantity)), 6) AS dd_p50,
               round(quantileDD(0.01, 0.9)(toFloat64(l_quantity)), 6) AS dd_p90,
               round(arrayElement(quantilesDD(0.01, 0.5, 0.9)(toFloat64(l_quantity) - 25.0), 1), 6) AS dd_mix_p50,
               round(arrayElement(quantilesDD(0.01, 0.5, 0.9)(toFloat64(l_quantity) - 25.0), 2), 6) AS dd_mix_p90
        FROM lineitem""")
    }, Some {
      val gamma = (1.0 + 0.01) / (1.0 - 0.01)
      val g = graft.ops.Vectors.duckDouble(gamma)
      val ln = graft.ops.Vectors.duckDouble(math.log(gamma))
      def sketch(tag: String, xExpr: String) = s"""
        v$tag AS (SELECT CAST($xExpr AS DOUBLE) AS x FROM lineitem),
        g$tag AS (SELECT CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sgn,
                        CASE WHEN x > 0 THEN CAST(ceil(ln(x) / $ln) AS INT)
                             WHEN x < 0 THEN CAST(ceil(ln(-x) / $ln) AS INT)
                             ELSE 0 END AS i
                 FROM v$tag WHERE NOT isnan(x)),
        b$tag AS (SELECT sgn, i, CAST(count(*) AS BIGINT) AS c,
                        CASE WHEN sgn = 0 THEN 0.0
                             ELSE sgn * 2 * pow($g, i) / ($g + 1) END AS v
                 FROM g$tag GROUP BY sgn, i),
        o$tag AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
                        (SELECT CAST(sum(c) AS BIGINT) FROM b$tag) AS n
                 FROM b$tag)"""
      s"""
      WITH ${sketch("q", "l_quantity")},
      ${sketch("s", "l_quantity - 25.0").replaceFirst("^\\s+", " ")}
      SELECT (SELECT round(min(v) FILTER (WHERE cum > 0.5 * (n - 1)), 6) FROM oq) AS dd_p50,
             (SELECT round(min(v) FILTER (WHERE cum > 0.9 * (n - 1)), 6) FROM oq) AS dd_p90,
             (SELECT round(min(v) FILTER (WHERE cum > 0.5 * (n - 1)), 6) FROM os) AS dd_mix_p50,
             (SELECT round(min(v) FILTER (WHERE cum > 0.9 * (n - 1)), 6) FROM os) AS dd_mix_p90"""
    }),

    // distinctJSONPaths (r19 — CH 24.8's JSON-type introspection
    // aggregate): sorted distinct LEAF paths across the group. Both
    // engines build the SAME varying-shape JSON text from orders
    // columns (pure string concat — conditional nested key, optional
    // array leaf), then Spark walks it with the map-side json_paths
    // generator (flatten(collect_list(...)), no per-path explode)
    // while DuckDB re-derives every path with a recursive-CTE walk
    // over json_keys/json_extract — a from-scratch oracle.
    QDef("agg_distinct_json_paths", (s, dir) => {
      Graft.init(s, dir)
      Graft.sql(s, """
        SELECT o_orderpriority,
               arrayStringConcat(distinctJSONPaths(concat(
                 '{"k":', toString(modulo(o_orderkey, 100)),
                 ',"meta":{"p":"', o_orderpriority, '"',
                 if(modulo(o_orderkey, 3) = 0, ',"x":1', ''),
                 '}',
                 if(modulo(o_orderkey, 5) = 0, ',"extra":[1,2]', ''),
                 '}')), ',') AS paths
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }, Some("""
      WITH RECURSIVE j AS (
        SELECT o_orderpriority,
               '{"k":' || CAST(o_orderkey % 100 AS VARCHAR) ||
               ',"meta":{"p":"' || o_orderpriority || '"' ||
               CASE WHEN o_orderkey % 3 = 0 THEN ',"x":1' ELSE '' END ||
               '}' ||
               CASE WHEN o_orderkey % 5 = 0 THEN ',"extra":[1,2]' ELSE '' END ||
               '}' AS js
        FROM orders),
      walk(grp, prefix, node) AS (
        SELECT o_orderpriority, '', js::JSON FROM j
        UNION ALL
        SELECT grp,
               CASE WHEN prefix = '' THEN k ELSE prefix || '.' || k END,
               json_extract(node, '$."' || k || '"')
        FROM walk, unnest(json_keys(node)) AS t(k)
        WHERE json_type(node) = 'OBJECT')
      SELECT grp AS o_orderpriority,
             array_to_string(list_sort(list_distinct(list(prefix))), ',') AS paths
      FROM walk
      WHERE prefix <> '' AND json_type(node) <> 'OBJECT'
      GROUP BY grp ORDER BY grp""")),

    // argMin/argMax → min_by/max_by. Balances have 2dp resolution, so
    // bal*1e7 + custkey is a collision-free numeric tie-break (exactly
    // representable in a double up to custkey ~1e5) that both engines
    // order identically — DuckDB 1.0 arg_max can't order by a struct.
    QDef("agg_argminmax", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "customer")
        .groupBy($"c_nationkey")
        .agg(expr("max_by(c_custkey, c_acctbal * 10000000 + c_custkey)").as("richest"),
          expr("min_by(c_custkey, c_acctbal * 10000000 + c_custkey)").as("poorest"),
          round(max($"c_acctbal"), 4).as("max_bal"))
        .orderBy($"c_nationkey")
    }, Some("""
      SELECT c_nationkey,
             arg_max(c_custkey, c_acctbal * 10000000 + c_custkey) AS richest,
             arg_min(c_custkey, c_acctbal * 10000000 + c_custkey) AS poorest,
             round(max(c_acctbal), 4) AS max_bal
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // any/anyLast (first/last in event-time order) + boundingRatio:
    // deterministic because events.ts is unique per user (FIXTURES.md).
    QDef("agg_any_bounding", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy($"user_id")
        .agg(expr("min_by(event_type, ts)").as("first_type"),
          expr("max_by(event_type, ts)").as("last_type"),
          round((expr("max_by(value, ts)") - expr("min_by(value, ts)")) /
            ((unix_micros(max($"ts")) - unix_micros(min($"ts"))) / lit(86400000000.0)),
            4).as("bounding_ratio_per_day"))
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id,
             arg_min(event_type, ts) AS first_type,
             arg_max(event_type, ts) AS last_type,
             round((arg_max(value, ts) - arg_min(value, ts)) /
                   ((epoch_us(CAST(max(ts) AS TIMESTAMP))
                     - epoch_us(CAST(min(ts) AS TIMESTAMP))) / 86400000000.0),
                   4) AS bounding_ratio_per_day
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // groupArray / groupUniqArray → sorted collect_list / collect_set,
    // serialized to '|'-joined strings for the pandas gate (array cells
    // are unhashable there; the sorted-join is a bijection anyway).
    QDef("agg_collect", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "nation")
        .groupBy($"n_regionkey")
        .agg(array_join(sort_array(collect_list($"n_name")), "|").as("nations"),
          array_join(sort_array(collect_set(substring($"n_name", 1, 1))), "|").as("initials"))
        .orderBy($"n_regionkey")
    }, Some("""
      SELECT n_regionkey,
             array_to_string(list_sort(list(n_name)), '|') AS nations,
             array_to_string(list_sort(list(DISTINCT substring(n_name, 1, 1))), '|') AS initials
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // Moments: stddev/var/covar from EXACT decimal sums + identical
    // double arithmetic both sides (order-independent at any scale);
    // corr/regr_* are scale-free ratios where builtin precision is
    // safe at 4dp.
    QDef("agg_moments", (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val D = "decimal(22,6)"
      val n = count(lit(1)).cast("double")
      val sx = sum($"l_quantity".cast(D)).cast("double")
      val sxx = sum(($"l_quantity" * $"l_quantity").cast(D)).cast("double")
      val sy = sum($"l_extendedprice".cast(D)).cast("double")
      val sxy = sum(($"l_quantity" * $"l_extendedprice").cast(D)).cast("double")
      li.groupBy($"l_returnflag")
        .agg(
          round((sxx - sx * sx / n) / (n - lit(1.0)), 4).as("var_qty"),
          round(sqrt((sxx - sx * sx / n) / (n - lit(1.0))), 4).as("sd_qty"),
          round((sxy - sx * sy / n) / (n - lit(1.0)), 4).as("covar_qp"),
          round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qp"),
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"))
        .orderBy($"l_returnflag")
    }, Some(s"""
      SELECT l_returnflag,
        round((${sqlSumD("l_quantity * l_quantity")}
               - ${sqlSumD("l_quantity")} * ${sqlSumD("l_quantity")} / CAST(count(*) AS DOUBLE))
              / (CAST(count(*) AS DOUBLE) - 1.0), 4) AS var_qty,
        round(sqrt((${sqlSumD("l_quantity * l_quantity")}
               - ${sqlSumD("l_quantity")} * ${sqlSumD("l_quantity")} / CAST(count(*) AS DOUBLE))
              / (CAST(count(*) AS DOUBLE) - 1.0)), 4) AS sd_qty,
        round((${sqlSumD("l_quantity * l_extendedprice")}
               - ${sqlSumD("l_quantity")} * ${sqlSumD("l_extendedprice")} / CAST(count(*) AS DOUBLE))
              / (CAST(count(*) AS DOUBLE) - 1.0), 4) AS covar_qp,
        round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // GROUP BY ... WITH ROLLUP (+ grouping_id to disambiguate levels).
    QDef("agg_rollup", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("cnt"), Det.dsum($"l_quantity").as("qty"),
          grouping_id().as("gid"))
        .orderBy($"gid", $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }, Some(s"""
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             ${Det.sqlSum("l_quantity")} AS qty,
             GROUPING(l_returnflag, l_linestatus) AS gid
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // GROUP BY ... WITH CUBE.
    QDef("agg_cube", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"), Det.dsum($"o_totalprice").as("total"),
          grouping_id().as("gid"))
        .orderBy($"gid", $"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    }, Some(s"""
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             ${Det.sqlSum("o_totalprice")} AS total,
             GROUPING(o_orderstatus, o_orderpriority) AS gid
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // GROUPING SETS (Spark SQL text; DataFrame API has no direct form).
    QDef("agg_grouping_sets", (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               ${Det.sqlSum("o_totalprice")} AS total
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }, Some(s"""
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             ${Det.sqlSum("o_totalprice")} AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // WITH TOTALS emulation: per-group rows + a grand-total row
    // (ClickHouse sends totals as a side block; relationally it is the
    // union of the agg with its own grand total).
    QDef("agg_with_totals", (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val per = li.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("cnt"), Det.dsum($"l_extendedprice").as("price"))
      val tot = li.groupBy()
        .agg(count(lit(1)).as("cnt"), Det.dsum($"l_extendedprice").as("price"))
        .select(lit(null).cast("string").as("l_returnflag"), $"cnt", $"price")
      per.unionByName(tot).orderBy($"l_returnflag".asc_nulls_last)
    }, Some(s"""
      SELECT l_returnflag, count(*) AS cnt, ${Det.sqlSum("l_extendedprice")} AS price
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT NULL AS l_returnflag, count(*) AS cnt, ${Det.sqlSum("l_extendedprice")} AS price
      FROM lineitem
      ORDER BY l_returnflag ASC NULLS LAST""")),

    // -If combinator family: sumIf/countIf/avgIf as conditional
    // rewrites (SURVEY §2.4 maps them to sum(CASE...)).
    QDef("agg_if_combinator", (s, dir) => {
      import s.implicits._
      val hi = $"l_quantity" > 25
      Tables(s, dir, "lineitem")
        .groupBy($"l_linestatus")
        .agg(
          Det.dsum(when(hi, $"l_extendedprice")).as("sum_hi"),
          count(when(hi, lit(1))).as("cnt_hi"),
          round(sum(when(hi, $"l_extendedprice").cast("decimal(22,6)")).cast("double") /
            count(when(hi, lit(1))), 4).as("avg_hi"))
        .orderBy($"l_linestatus")
    }, Some(s"""
      SELECT l_linestatus,
        ${Det.sqlSum("CASE WHEN l_quantity > 25 THEN l_extendedprice END")} AS sum_hi,
        count(CASE WHEN l_quantity > 25 THEN 1 END) AS cnt_hi,
        round(${sqlSumD("CASE WHEN l_quantity > 25 THEN l_extendedprice END")}
              / count(CASE WHEN l_quantity > 25 THEN 1 END), 4) AS avg_hi
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // avgWeighted(x, w) = sum(x*w)/sum(w), exact decimal sums.
    QDef("agg_avg_weighted", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(round(
          sum(($"l_extendedprice" * $"l_quantity").cast("decimal(22,6)")).cast("double") /
            sum($"l_quantity".cast("decimal(22,6)")).cast("double"), 4)
          .as("wavg_price"))
        .orderBy($"l_returnflag")
    }, Some(s"""
      SELECT l_returnflag,
             round(${sqlSumD("l_extendedprice * l_quantity")}
                   / ${sqlSumD("l_quantity")}, 4) AS wavg_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // deltaSum: sum of positive deltas in event-time order (window lag
    // + greatest(x-lag,0); one shuffle on user_id — scale-clean).
    QDef("agg_delta_sum", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables(s, dir, "events")
        .withColumn("delta", greatest($"value" - lag($"value", 1).over(w), lit(0.0)))
        .groupBy($"user_id")
        .agg(Det.dsum(coalesce($"delta", lit(0.0))).as("delta_sum"))
        .orderBy($"user_id")
    }, Some(s"""
      SELECT user_id, ${Det.sqlSum("coalesce(delta, 0.0)")} AS delta_sum
      FROM (SELECT user_id,
                   greatest(value - lag(value, 1) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id), 0.0) AS delta
            FROM events)
      GROUP BY user_id ORDER BY user_id""")),

    // entropy: counts per (user,type), then H = log2(n) - sum(c*log2(c))/n
    // from exact integer counts (algebraically identical to
    // -sum(p*log2 p) but needs no per-row total join).
    QDef("agg_entropy", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
        .groupBy($"user_id")
        .agg(round(log2(sum($"c")) - sum($"c" * log2($"c")) / sum($"c"), 4)
          .as("entropy"))
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id,
             round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
      FROM (SELECT user_id, event_type, count(*) AS c
            FROM events GROUP BY user_id, event_type)
      GROUP BY user_id ORDER BY user_id""")),

    // retention(view, click, purchase): condition-hit vector per user;
    // elements 2..n are ANDed with element 1 (ClickHouse semantics).
    QDef("agg_retention", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "view", 1).otherwise(0)).as("r_view"),
          (max(when($"event_type" === "view", 1).otherwise(0)) *
            max(when($"event_type" === "click", 1).otherwise(0))).as("r_click"),
          (max(when($"event_type" === "view", 1).otherwise(0)) *
            max(when($"event_type" === "purchase", 1).otherwise(0))).as("r_purchase"))
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS r_view,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS r_click,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               * max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS r_purchase
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // groupBitAnd/Or/Xor.
    QDef("agg_bitops", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(expr("bit_and(l_linenumber)").as("b_and"),
          expr("bit_or(l_linenumber)").as("b_or"),
          expr("bit_xor(l_linenumber)").as("b_xor"))
        .orderBy($"l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             bit_and(l_linenumber) AS b_and,
             bit_or(l_linenumber) AS b_or,
             bit_xor(l_linenumber) AS b_xor
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // -Resample combinator: fResample(start, end, step)(x, key) →
    // per-subinterval aggregates as an array ([1,3),[3,5),[5,7),[7,8)
    // over l_linenumber here). ChSql expands it to one FILTERed
    // aggregate call per bucket — a single hash-agg pass, no UDAF, no
    // extra shuffle. Integer inputs keep every bucket value exact;
    // the oracle writes the same bucket arithmetic longhand.
    QDef("agg_resample", (s, dir) => {
      Graft.init(s, dir)
      // arrays render as '|'-joined strings (the gate can't hash array
      // cells); every value is integral so the render is exact
      Graft.sql(s, """
        SELECT l_returnflag,
               arrayStringConcat(
                 countResample(1, 8, 2)(l_orderkey, l_linenumber), '|') AS cnts,
               arrayStringConcat(
                 sumResample(1, 8, 2)(l_orderkey, l_linenumber), '|') AS sums,
               arrayStringConcat(CAST(
                 maxResample(1, 8, 2)(l_quantity, l_linenumber) AS Array(Int64)), '|') AS maxs
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }, Some {
      val buckets = Seq((1, 3), (3, 5), (5, 7), (7, 8))
      def arr(f: Int => String) = buckets.indices.map(f)
        .mkString("array_to_string([", ", ", "], '|')")
      def w(i: Int) = s"FILTER (WHERE l_linenumber >= ${buckets(i)._1} " +
        s"AND l_linenumber < ${buckets(i)._2})"
      s"""
      SELECT l_returnflag,
             ${arr(i => s"count(l_orderkey) ${w(i)}")} AS cnts,
             ${arr(i => s"CAST(sum(l_orderkey) ${w(i)} AS BIGINT)")} AS sums,
             ${arr(i => s"CAST(max(l_quantity) ${w(i)} AS BIGINT)")} AS maxs
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    }),

    // exponentialMovingAverage(halflife)(v, t) — the parametric UDAF
    // with the re-anchoring order-independent merge. halflife 1 over
    // INTEGER times makes every weight an exact power of two, so sums
    // and the re-anchor scalings are all exact doubles: the hash
    // compare is deterministic at any executor count without DECIMAL.
    QDef("agg_ema", (s, dir) => {
      Graft.init(s, dir)
      Graft.sql(s, """
        SELECT l_returnflag,
               round(exponentialMovingAverage(1)(l_quantity, l_linenumber), 6) AS ema
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }, Some("""
      SELECT l_returnflag,
             round(sum(l_quantity * pow(2.0, l_linenumber))
                   / sum(pow(2.0, l_linenumber)), 6) AS ema
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Bitmap set algebra over real user sets (the CH roaring-bitmap
    // scalar family on bitmapBuild'd groupArrays): audience overlap
    // between event types — and/or/andnot cardinalities, oracle via
    // DuckDB list set operations.
    QDef("agg_bitmap_algebra", (s, dir) => {
      Graft.init(s, dir)
      Graft.sql(s, """
        SELECT a.event_type AS t1, b.event_type AS t2,
               bitmapAndCardinality(a.bm, b.bm) AS n_both,
               bitmapOrCardinality(a.bm, b.bm) AS n_any,
               bitmapAndnotCardinality(a.bm, b.bm) AS n_only1
        FROM (SELECT event_type, bitmapBuild(groupArray(user_id)) AS bm
              FROM events GROUP BY event_type) a
        JOIN (SELECT event_type, bitmapBuild(groupArray(user_id)) AS bm
              FROM events GROUP BY event_type) b
          ON a.event_type < b.event_type
        ORDER BY t1, t2""")
    }, Some("""
      WITH s AS (SELECT event_type, list_distinct(list(user_id)) AS bm
                 FROM events GROUP BY event_type)
      SELECT a.event_type AS t1, b.event_type AS t2,
             CAST(len(list_intersect(a.bm, b.bm)) AS INT) AS n_both,
             CAST(len(list_distinct(a.bm || b.bm)) AS INT) AS n_any,
             CAST(len(list_filter(a.bm,
               x -> NOT list_contains(b.bm, x))) AS INT) AS n_only1
      FROM s a JOIN s b ON a.event_type < b.event_type
      ORDER BY t1, t2""")),

    // sumMap: element-wise sum of per-row maps. Explode → two-key agg
    // → re-assemble as a k-sorted "k:v" entry string (deterministic
    // order + the pandas gate can't hash array/struct cells). Sums stay
    // in DECIMAL(22,6) end-to-end: the string render is exact and
    // identical in both engines (no double formatting involved).
    QDef("agg_sum_map", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .select($"user_id", map($"event_type", $"value").as("m"))
        .select($"user_id", explode($"m").as(Seq("k", "v")))
        .groupBy($"user_id", $"k")
        .agg(sum($"v".cast("decimal(22,6)")).cast("decimal(22,6)").as("v"))
        .groupBy($"user_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct($"k", $"v"))),
            x => concat(x.getField("k"), lit(":"), x.getField("v").cast("string"))),
          "|").as("value_by_type"))
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id,
             string_agg(k || ':' || CAST(v AS VARCHAR), '|' ORDER BY k) AS value_by_type
      FROM (SELECT user_id, event_type AS k,
                   CAST(sum(CAST(value AS DECIMAL(22,6))) AS DECIMAL(22,6)) AS v
            FROM events GROUP BY user_id, event_type)
      GROUP BY user_id ORDER BY user_id""")),

    // minMap / maxMap (the other -Map combinators next to sumMap):
    // per-key extrema over map entries, reassembled as a sorted
    // serialized map. Same explode→agg→reassemble shape as sumMap —
    // one shuffle, map-side combine.
    QDef("agg_min_max_map", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .select($"user_id", map($"event_type", round($"value", 4)).as("m"))
        .select($"user_id", explode($"m").as(Seq("k", "v")))
        .groupBy($"user_id", $"k")
        // extrema serialize through DECIMAL(22,6) — double→string
        // rendering differs across engines, decimal's doesn't
        .agg(min($"v").cast("decimal(22,6)").as("lo"),
          max($"v").cast("decimal(22,6)").as("hi"))
        .groupBy($"user_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct($"k", $"lo"))),
            x => concat(x.getField("k"), lit(":"), x.getField("lo").cast("string"))),
          "|").as("min_by_type"),
          array_join(
            transform(array_sort(collect_list(struct($"k", $"hi"))),
              x => concat(x.getField("k"), lit(":"), x.getField("hi").cast("string"))),
            "|").as("max_by_type"))
        .orderBy($"user_id")
    }, Some("""
      SELECT user_id,
             string_agg(k || ':' || CAST(lo AS VARCHAR), '|' ORDER BY k) AS min_by_type,
             string_agg(k || ':' || CAST(hi AS VARCHAR), '|' ORDER BY k) AS max_by_type
      FROM (SELECT user_id, event_type AS k,
                   CAST(min(round(value, 4)) AS DECIMAL(22,6)) AS lo,
                   CAST(max(round(value, 4)) AS DECIMAL(22,6)) AS hi
            FROM events GROUP BY user_id, event_type)
      GROUP BY user_id ORDER BY user_id""")),

    // topK exact rewrite (heavy hitters with deterministic tie-break).
    QDef("agg_topk_exact", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"l_partkey")
        .limit(10)
    }, Some("""
      SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
      ORDER BY cnt DESC, l_partkey LIMIT 10""")),

    // Fixed-bucket histogram via a two-pass global min/max + bucket
    // groupBy — the scale-safe way to bucket globally (contrast with a
    // global ntile window, which single-threads).
    QDef("agg_histogram", (s, dir) => {
      import s.implicits._
      val cust = Tables(s, dir, "customer")
      val mm = cust.agg(min($"c_acctbal").as("lo"), max($"c_acctbal").as("hi"))
      cust.crossJoin(broadcast(mm))
        .withColumn("bucket",
          least(greatest(floor(($"c_acctbal" - $"lo") / ($"hi" - $"lo") * 10), lit(0)), lit(9)))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("cnt"), Det.dsum($"c_acctbal").as("bal"))
        .orderBy($"bucket")
    }, Some(s"""
      SELECT least(greatest(CAST(floor((c_acctbal - lo) / (hi - lo) * 10) AS BIGINT), 0), 9) AS bucket,
             count(*) AS cnt, ${Det.sqlSum("c_acctbal")} AS bal
      FROM customer,
           (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer)
      GROUP BY bucket ORDER BY bucket""")),

    // maxIntersections: max number of concurrently-open 30-day order
    // windows per priority class — +1/−1 events, running sum, max.
    QDef("agg_max_intersections", (s, dir) => {
      import s.implicits._
      val ord = Tables(s, dir, "orders")
      val starts = ord.select($"o_orderpriority", $"o_orderdate".as("t"),
        lit(1L).as("d"))
      val ends = ord.select($"o_orderpriority",
        ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("t"),
        lit(-1L).as("d"))
      // r20: net the ±1 deltas per (priority, instant) BEFORE the
      // running-sum window, so the window runs over O(distinct dates)
      // rows instead of 2·|orders| (guide §2.3 aggregate-before-
      // shuffle; the partial agg collapses the emit map-side). Exact:
      // in the event-level order (t asc, d asc) all −1s of an instant
      // precede its +1s, so within one instant the running sum dips
      // then rises — its maximum over the whole sequence is always
      // attained at an instant BOUNDARY, which is precisely the
      // per-instant-netted prefix sum this computes.
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      starts.unionByName(ends)
        .groupBy($"o_orderpriority", $"t").agg(sum($"d").as("net"))
        .withColumn("open", sum($"net").over(w))
        .groupBy($"o_orderpriority")
        .agg(max($"open").as("max_concurrent"))
        .orderBy($"o_orderpriority")
    }, Some("""
      -- CAST: DuckDB sum(INTEGER) OVER (...) yields HUGEINT, which the
      -- driver's hasher sees as a different dtype than Spark's BIGINT.
      SELECT o_orderpriority, CAST(max(open) AS BIGINT) AS max_concurrent
      FROM (
        SELECT o_orderpriority,
               sum(d) OVER (PARTITION BY o_orderpriority ORDER BY t, d, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        FROM (
          SELECT o_orderpriority, o_orderdate AS t, 1 AS d, o_orderkey FROM orders
          UNION ALL
          SELECT o_orderpriority, o_orderdate + INTERVAL 30 DAY AS t, -1 AS d, o_orderkey
          FROM orders))
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))
  )
}
