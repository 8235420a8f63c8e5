package graft.queries

import graft.{QDef, Tables}
import graft.ops.Quantiles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical aggregates (SURVEY §2.4 stats rows): intervalLengthSum
  * (union length of overlapping intervals — the classic
  * sort + running-max island construction, fully relational so it
  * distributes and oracle-checks), Welch's t-test, and Cramér's V —
  * both derived from exact decimal sums / exact counts with identical
  * double arithmetic on the DuckDB side.
  */
object StatsQueries {

  val defs: Seq[QDef] = Seq(

    // intervalLengthSum: union length of [orderdate, orderdate+30d)
    // per priority. Islands: a row starts a new island iff its start
    // exceeds the running max end of all PRECEDING rows (per group,
    // start-ordered); island id = running count of starts; union
    // length = Σ islands (max end − min start). One shuffle on the
    // group key; windows are per-group, never global.
    QDef("agg_interval_union", (s, dir) => {
      import s.implicits._
      // r20: every interval is the fixed 30 days off its order date,
      // so duplicate (p, st) rows are IDENTICAL intervals — they never
      // open an island (the identical predecessor's en already covers
      // them) and never move an island's min(st)/max(en). Deduplicate
      // before the island window: it then sweeps O(distinct dates)
      // rows per priority instead of O(orders), and the dedup itself
      // collapses map-side (partial agg). (st, en) is unique per p
      // after the distinct, so the old o_orderkey tie-break is inert.
      val ord = Tables(s, dir, "orders")
        .select($"o_orderpriority".as("p"),
          // orderdate is TIMESTAMP_NTZ; cast under the UTC session tz
          unix_micros($"o_orderdate".cast("timestamp")).as("st"))
        .distinct()
        .withColumn("en", $"st" + lit(2592000000000L))
      val byStart = Window.partitionBy($"p")
        .orderBy($"st", $"en")
      val prevMax = max($"en").over(
        byStart.rowsBetween(Window.unboundedPreceding, -1))
      val withIsland = ord
        .withColumn("new_island",
          when(prevMax.isNull || $"st" > prevMax, 1).otherwise(0))
        .withColumn("island", sum($"new_island").over(
          byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withIsland.groupBy($"p", $"island")
        .agg((max($"en") - min($"st")).as("len"))
        .groupBy($"p")
        .agg(sum($"len").as("covered_us"), count(lit(1)).as("n_islands"))
        .select($"p".as("o_orderpriority"), $"covered_us", $"n_islands")
        .orderBy($"o_orderpriority")
    }, Some("""
      WITH iv AS (
        SELECT o_orderpriority AS p, epoch_us(o_orderdate) AS st,
               epoch_us(o_orderdate) + 2592000000000 AS en, o_orderkey
        FROM orders),
      isl AS (
        SELECT p, st, en,
               CASE WHEN max(en) OVER (PARTITION BY p ORDER BY st, en, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                      OR st > max(en) OVER (PARTITION BY p ORDER BY st, en, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island,
               o_orderkey
        FROM iv),
      num AS (
        SELECT p, st, en,
               sum(new_island) OVER (PARTITION BY p ORDER BY st, en, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM isl),
      per AS (SELECT p, island, max(en) - min(st) AS len
              FROM num GROUP BY p, island)
      SELECT p AS o_orderpriority,
             CAST(sum(len) AS BIGINT) AS covered_us,
             count(*) AS n_islands
      FROM per GROUP BY p ORDER BY o_orderpriority""")),

    // Welch's t-test (unequal variances): quantity of returned ('R')
    // vs accepted ('A') lineitems. Means/variances from exact decimal
    // sums, the t statistic and Welch–Satterthwaite df with identical
    // double arithmetic both sides, 4dp-rounded.
    QDef("agg_welch_ttest", (s, dir) => {
      import s.implicits._
      val D = "decimal(22,6)"
      val st = Tables(s, dir, "lineitem")
        .filter($"l_returnflag".isin("A", "R"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum($"l_quantity".cast(D)).cast("double").as("sx"),
          sum(($"l_quantity" * $"l_quantity").cast(D)).cast("double").as("sxx"))
        .withColumn("m", $"sx" / $"n")
        .withColumn("v", ($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1))
      val a = st.filter($"l_returnflag" === "A")
        .select($"n".as("n1"), $"m".as("m1"), $"v".as("v1"))
      val r = st.filter($"l_returnflag" === "R")
        .select($"n".as("n2"), $"m".as("m2"), $"v".as("v2"))
      a.crossJoin(r)
        .select(
          round(($"m1" - $"m2") / sqrt($"v1" / $"n1" + $"v2" / $"n2"), 4).as("t_stat"),
          round(pow($"v1" / $"n1" + $"v2" / $"n2", 2) /
            (pow($"v1" / $"n1", 2) / ($"n1" - 1) + pow($"v2" / $"n2", 2) / ($"n2" - 1)),
            4).as("df"))
    }, Some("""
      WITH st AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sxx
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        GROUP BY l_returnflag),
      m AS (SELECT l_returnflag, n, sx / n AS m, (sxx - sx * sx / n) / (n - 1) AS v
            FROM st)
      SELECT round((a.m - r.m) / sqrt(a.v / a.n + r.v / r.n), 4) AS t_stat,
             round(pow(a.v / a.n + r.v / r.n, 2) /
                   (pow(a.v / a.n, 2) / (a.n - 1) + pow(r.v / r.n, 2) / (r.n - 1)),
                   4) AS df
      FROM (SELECT * FROM m WHERE l_returnflag = 'A') a,
           (SELECT * FROM m WHERE l_returnflag = 'R') r""")),

    // Cramér's V association between order status and priority:
    // contingency table → χ² → V = sqrt(χ² / (n·(min(r,c)−1))).
    // Pure count arithmetic (exact) until the final double ratio.
    QDef("agg_cramers_v", (s, dir) => {
      import s.implicits._
      val ord = Tables(s, dir, "orders")
      val cells = ord.groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("nij"))
      // ONE fact pass (r20): the marginals and totals are exact sums
      // over the tiny contingency table — ni(s) = Σ_p nij, n = Σ nij,
      // r/c = distinct keys of cells — so the three extra full-table
      // aggregations collapse into O(r·c)-row re-aggregations of
      // `cells` (whose identical exchange subtrees ReuseExchange
      // dedups into one shuffle).
      val rows = cells.groupBy($"o_orderstatus").agg(sum($"nij").as("ni"))
      val cols = cells.groupBy($"o_orderpriority").agg(sum($"nij").as("nj"))
      val tot = cells.agg(sum($"nij").as("n"),
        countDistinct($"o_orderstatus").as("r"),
        countDistinct($"o_orderpriority").as("c"))
      cells.join(broadcast(rows), "o_orderstatus")
        .join(broadcast(cols), "o_orderpriority")
        .crossJoin(broadcast(tot))
        .withColumn("e", $"ni".cast("double") * $"nj" / $"n")
        .withColumn("chi", ($"nij" - $"e") * ($"nij" - $"e") / $"e")
        .groupBy($"n", $"r", $"c")
        .agg(sum($"chi").as("chi2"))
        .select(round(sqrt($"chi2" / ($"n" * (least($"r", $"c") - 1))), 4).as("cramers_v"))
    }, Some("""
      WITH cells AS (SELECT o_orderstatus, o_orderpriority, count(*) AS nij
                     FROM orders GROUP BY 1, 2),
      rws AS (SELECT o_orderstatus, count(*) AS ni FROM orders GROUP BY 1),
      cls AS (SELECT o_orderpriority, count(*) AS nj FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n, count(DISTINCT o_orderstatus) AS r,
                     count(DISTINCT o_orderpriority) AS c FROM orders)
      SELECT round(sqrt(sum((nij - e) * (nij - e) / e) /
                        (n * (least(r, c) - 1))), 4) AS cramers_v
      FROM (SELECT nij, CAST(ni AS DOUBLE) * nj / n AS e, n, r, c
            FROM cells JOIN rws USING (o_orderstatus)
                       JOIN cls USING (o_orderpriority)
                       CROSS JOIN tot)
      GROUP BY n, r, c""")),

    // The other two CH categorical-association coefficients over the
    // same contingency table: contingency(a,b) = sqrt(χ²/(χ²+n)) and
    // theilsU(a,b) = (H(X) − H(X|Y)) / H(X) (uncertainty coefficient,
    // entropy from exact counts). Same 100 TB shape as cramersV: one
    // fact pass for cells + two broadcast marginals + a 1-row total —
    // every later stage is O(distinct pairs), never O(rows).
    QDef("agg_contingency_theilsu", (s, dir) => {
      import s.implicits._
      val ord = Tables(s, dir, "orders")
      val cells = ord.groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("nij"))
      // ONE fact pass (r20, same derivation as agg_cramers_v): the
      // marginals/total are exact sums over the contingency cells.
      val rws = cells.groupBy($"o_orderstatus").agg(sum($"nij").as("ni"))
      val cls = cells.groupBy($"o_orderpriority").agg(sum($"nij").as("nj"))
      val tot = cells.agg(sum($"nij").as("n"))
      val a = cells.join(broadcast(rws), "o_orderstatus")
        .join(broadcast(cls), "o_orderpriority")
        .crossJoin(broadcast(tot))
        .withColumn("e", $"ni".cast("double") * $"nj" / $"n")
        .withColumn("chi", ($"nij" - $"e") * ($"nij" - $"e") / $"e")
        .withColumn("hxy",
          -($"nij".cast("double") / $"n") * log($"nij".cast("double") / $"nj"))
        .groupBy($"n")
        .agg(sum($"chi").as("chi2"), sum($"hxy").as("h_x_given_y"))
      val hx = rws.crossJoin(broadcast(tot))
        .agg(sum(-($"ni".cast("double") / $"n") *
          log($"ni".cast("double") / $"n")).as("h_x"))
      a.crossJoin(broadcast(hx))
        .select(
          round(sqrt($"chi2" / ($"chi2" + $"n")), 4).as("contingency"),
          round(($"h_x" - $"h_x_given_y") / $"h_x", 4).as("theils_u"))
    }, Some("""
      WITH cells AS (SELECT o_orderstatus, o_orderpriority, count(*) AS nij
                     FROM orders GROUP BY 1, 2),
      rws AS (SELECT o_orderstatus, count(*) AS ni FROM orders GROUP BY 1),
      cls AS (SELECT o_orderpriority, count(*) AS nj FROM orders GROUP BY 1),
      tot AS (SELECT count(*) AS n FROM orders),
      a AS (SELECT n, sum((nij - e) * (nij - e) / e) AS chi2,
                   sum(-(CAST(nij AS DOUBLE) / n) *
                       ln(CAST(nij AS DOUBLE) / nj)) AS h_x_given_y
            FROM (SELECT nij, nj, n, CAST(ni AS DOUBLE) * nj / n AS e
                  FROM cells JOIN rws USING (o_orderstatus)
                             JOIN cls USING (o_orderpriority)
                             CROSS JOIN tot)
            GROUP BY n),
      hx AS (SELECT sum(-(CAST(ni AS DOUBLE) / n) *
                        ln(CAST(ni AS DOUBLE) / n)) AS h_x
             FROM rws CROSS JOIN tot)
      SELECT round(sqrt(chi2 / (chi2 + n)), 4) AS contingency,
             round((h_x - h_x_given_y) / h_x, 4) AS theils_u
      FROM a CROSS JOIN hx""")),

    // kolmogorovSmirnovTest: two-sample KS statistic D = max |ECDF_R −
    // ECDF_N| over quantity, plus the scaled z = D·sqrt(n1·n2/(n1+n2)).
    // ECDFs come from the VALUE-COUNT distribution — one fact pass,
    // then cumulative sums over ≤50 distinct values (the window is
    // bounded by the value domain, never by row count), the same
    // O(distinct) shape as agg_rank_corr/quantileExact. Counts stay
    // exact integers until the final double ratios.
    QDef("agg_ks_test", (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
        .filter($"l_returnflag".isin("R", "N"))
        .select($"l_returnflag".as("g"), $"l_quantity".as("v"))
      val vc = li.groupBy($"v").agg(
        sum(when($"g" === "R", 1L).otherwise(0L)).as("cr"),
        sum(when($"g" === "N", 1L).otherwise(0L)).as("cn"))
      val tot = li.agg(
        sum(when($"g" === "R", 1L).otherwise(0L)).as("nr"),
        sum(when($"g" === "N", 1L).otherwise(0L)).as("nn"))
      // bounded window: one row per distinct quantity (≤ 50)
      val w = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc.withColumn("ar", sum($"cr").over(w))
        .withColumn("an", sum($"cn").over(w))
        .crossJoin(broadcast(tot))
        .groupBy($"nr", $"nn")
        .agg(max(abs($"ar".cast("double") / $"nr" -
          $"an".cast("double") / $"nn")).as("d"))
        .select(round($"d", 4).as("ks_d"),
          round($"d" * sqrt($"nr".cast("double") * $"nn" / ($"nr" + $"nn")), 4)
            .as("ks_z"))
    }, Some("""
      WITH li AS (SELECT l_returnflag AS g, l_quantity AS v
                  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      vc AS (SELECT v,
                    CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                    CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn
             FROM li GROUP BY v),
      cum AS (SELECT v, sum(cr) OVER (ORDER BY v) AS ar,
                     sum(cn) OVER (ORDER BY v) AS an FROM vc),
      tot AS (SELECT CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
                     CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn
              FROM li),
      dd AS (SELECT nr, nn,
                    max(abs(CAST(ar AS DOUBLE) / nr - CAST(an AS DOUBLE) / nn)) AS d
             FROM cum CROSS JOIN tot GROUP BY nr, nn)
      SELECT round(d, 4) AS ks_d,
             round(d * sqrt(CAST(nr AS DOUBLE) * nn / (nr + nn)), 4) AS ks_z
      FROM dd""")),

    // Distributed exact quantiles: the SAME interpolated quantiles as
    // agg_quantiles, but from the value-count distribution
    // (ops/Quantiles) instead of Spark's row-buffering `percentile` —
    // the form whose per-group working set is O(distinct values), the
    // one that survives hot groups at 100 TB. DuckDB's quantile_cont
    // is the oracle, so the hash match proves the rank/interpolation
    // algebra is exact, not just close.
    QDef("agg_quantiles_dist", (s, dir) => {
      import s.implicits._
      // l_quantity (~50 distinct per group) is this operator's
      // INTENDED shape: the value-count table stays tiny however many
      // raw rows feed it. (A near-unique column like extendedprice
      // degenerates the distribution to O(rows) — use the raw-vector
      // graft_quantile_exact for those; agg_quantiles covers it.)
      Quantiles.exactQuantiles(Tables(s, dir, "lineitem"),
          Seq("l_returnflag"), col("l_quantity"), Seq(0.25, 0.5, 0.75))
        .select($"l_returnflag", $"q", round($"quantile", 4).as("quantile"))
        .orderBy($"l_returnflag", $"q")
    }, Some("""
      WITH g AS (
        SELECT l_returnflag,
               quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS vals
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag,
             CAST([0.25, 0.5, 0.75][i] AS DOUBLE) AS q,
             round(vals[i], 4) AS quantile
      FROM g, (SELECT unnest([1, 2, 3]) AS i)
      ORDER BY l_returnflag, q""")),

    // rankCorr (Spearman) between quantity and discount per return
    // flag. Ranks come from the VALUE-COUNT distribution, not a row
    // window: avg rank of value v = #less + (#eq+1)/2, doubled to stay
    // integral (2r = 2·#less + #eq + 1 — Spearman is scale-invariant).
    // The rank tables are O(distinct values) per group (≤ 50 rows), so
    // the windows are bounded and the joins broadcast; exact
    // decimal/HUGEINT sums feed one double formula evaluated
    // identically on both engines. The 100 TB shape: two tiny
    // pre-aggregations + a fact re-join on (group, value) keys.
    QDef("agg_rank_corr", (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
        .select($"l_returnflag".as("g"), $"l_quantity".as("x"), $"l_discount".as("y"))
        // NOT NULL in TPC-H; without it the joins infer isnotnull on the
        // top-level `joint` only and lineitem is scanned twice
        .filter($"g".isNotNull && $"x".isNotNull && $"y".isNotNull)
      val D0 = "decimal(38,0)"
      val joint = li.groupBy($"g", $"x", $"y").agg(count(lit(1)).as("n"))
      // ONE full-table aggregation pass (r20): the per-value marginal
      // counts the rank tables need are exact sums over the tiny joint
      // table — cnt(g,x) = Σ_y n(g,x,y) — so both rank branches
      // re-aggregate `joint` (O(distinct x · distinct y) rows) instead
      // of re-scanning lineitem; the three identical big exchanges
      // collapse to one (ReuseExchange) + two O(distinct)-row ones.
      def ranks(c: String, out: String) = {
        val cnt = joint.groupBy($"g", col(c)).agg(sum($"n").as("cnt"))
        // bounded window: one row per distinct value per group (≤ 50)
        val w = Window.partitionBy($"g").orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, -1)
        cnt.withColumn(out,
          lit(2) * coalesce(sum($"cnt").over(w), lit(0L)) + $"cnt" + 1)
          .select($"g", col(c), col(out))
      }
      joint
        .join(broadcast(ranks("x", "r2x")), Seq("g", "x"))
        .join(broadcast(ranks("y", "r2y")), Seq("g", "y"))
        .groupBy($"g")
        .agg(
          sum($"n".cast(D0)).cast("double").as("sn"),
          sum(($"n".cast(D0) * $"r2x")).cast("double").as("sx"),
          sum(($"n".cast(D0) * $"r2y")).cast("double").as("sy"),
          sum(($"n".cast(D0) * $"r2x" * $"r2x")).cast("double").as("sxx"),
          sum(($"n".cast(D0) * $"r2y" * $"r2y")).cast("double").as("syy"),
          sum(($"n".cast(D0) * $"r2x" * $"r2y")).cast("double").as("sxy"))
        .select($"g".as("l_returnflag"),
          round(($"sn" * $"sxy" - $"sx" * $"sy") /
            sqrt(($"sn" * $"sxx" - $"sx" * $"sx") *
                 ($"sn" * $"syy" - $"sy" * $"sy")), 4).as("spearman"))
        .orderBy($"l_returnflag")
    }, Some("""
      WITH li AS (SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y
                  FROM lineitem),
      cx AS (SELECT g, x, count(*) AS cnt FROM li GROUP BY g, x),
      rx AS (SELECT g, x, 2 * coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1
               AS r2x FROM cx),
      cy AS (SELECT g, y, count(*) AS cnt FROM li GROUP BY g, y),
      ry AS (SELECT g, y, 2 * coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1
               AS r2y FROM cy),
      j AS (SELECT g, x, y, count(*) AS n FROM li GROUP BY g, x, y),
      p AS (SELECT j.g AS g, CAST(n AS HUGEINT) AS n, r2x, r2y
            FROM j JOIN rx ON rx.g = j.g AND rx.x = j.x
                   JOIN ry ON ry.g = j.g AND ry.y = j.y),
      sums AS (SELECT g,
                 CAST(sum(n) AS DOUBLE) AS sn,
                 CAST(sum(n * r2x) AS DOUBLE) AS sx,
                 CAST(sum(n * r2y) AS DOUBLE) AS sy,
                 CAST(sum(n * r2x * r2x) AS DOUBLE) AS sxx,
                 CAST(sum(n * r2y * r2y) AS DOUBLE) AS syy,
                 CAST(sum(n * r2x * r2y) AS DOUBLE) AS sxy
               FROM p GROUP BY g)
      SELECT g AS l_returnflag,
             round((sn * sxy - sx * sy) /
                   sqrt((sn * sxx - sx * sx) * (sn * syy - sy * sy)), 4)
               AS spearman
      FROM sums ORDER BY l_returnflag""")),

    // mannWhitneyUTest: U and tie-corrected normal z for quantity of
    // returned ('R') vs accepted ('A') lineitems. Average ranks over
    // the COMBINED sample from the value-count distribution (doubled →
    // integral); U = ΣR_A − n_A(n_A+1)/2; σ² carries the standard tie
    // correction Σ(t³−t). Everything before the final formula is exact
    // integer arithmetic (decimal/HUGEINT), so the double z matches
    // bit-for-bit across engines.
    QDef("agg_mann_whitney", (s, dir) => {
      import s.implicits._
      val D0 = "decimal(38,0)"
      val c = Tables(s, dir, "lineitem")
        .filter($"l_returnflag".isin("A", "R"))
        .groupBy($"l_quantity".as("x"))
        .agg(count(lit(1)).as("cnt"),
          sum(when($"l_returnflag" === "A", 1L).otherwise(0L)).as("cnta"))
      // bounded window: one row per distinct quantity (≤ 50)
      val w = Window.orderBy($"x").rowsBetween(Window.unboundedPreceding, -1)
      val r = c.withColumn("r2",
        lit(2) * coalesce(sum($"cnt").over(w), lit(0L)) + $"cnt" + 1)
      r.agg(
          sum($"cnta".cast(D0)).cast("double").as("na"),
          sum(($"cnt" - $"cnta").cast(D0)).cast("double").as("nb"),
          sum(($"cnta".cast(D0) * $"r2")).cast("double").as("two_ra"),
          sum(($"cnt".cast(D0) * $"cnt" * $"cnt" - $"cnt")).cast("double").as("ties"))
        .select(
          round(($"two_ra" - $"na" * ($"na" + 1)) / 2.0, 1).as("u_stat"),
          round((($"two_ra" - $"na" * ($"na" + 1)) / 2.0 - $"na" * $"nb" / 2.0) /
            sqrt($"na" * $"nb" / 12.0 *
              (($"na" + $"nb" + 1) - $"ties" /
                (($"na" + $"nb") * ($"na" + $"nb" - 1)))), 4).as("z_score"))
    }, Some("""
      WITH c AS (SELECT l_quantity AS x, count(*) AS cnt,
                        sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS cnta
                 FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY x),
      r AS (SELECT x, cnt, cnta,
              2 * coalesce(sum(cnt) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1
                AS r2 FROM c),
      sums AS (SELECT
                 CAST(sum(CAST(cnta AS HUGEINT)) AS DOUBLE) AS na,
                 CAST(sum(CAST(cnt - cnta AS HUGEINT)) AS DOUBLE) AS nb,
                 CAST(sum(CAST(cnta AS HUGEINT) * r2) AS DOUBLE) AS two_ra,
                 CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE) AS ties
               FROM r)
      SELECT round((two_ra - na * (na + 1)) / 2.0, 1) AS u_stat,
             round(((two_ra - na * (na + 1)) / 2.0 - na * nb / 2.0) /
                   sqrt(na * nb / 12.0 *
                        ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))),
                   4) AS z_score
      FROM sums""")),

    // skewPop / kurtPop per return flag from EXACT power sums (the
    // -Pop forms, matching ClickHouse: g1 = μ3/σ³, kurt = μ4/σ⁴, no
    // excess). Σx..Σx⁴ accumulate in DECIMAL(38,6) — order-independent
    // at any executor count — and one double formula, written
    // identically on both sides, produces the statistics.
    QDef("agg_skew_kurt", (s, dir) => {
      import s.implicits._
      val D = "decimal(38,6)"
      Tables(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum($"l_quantity".cast(D)).cast("double").as("s1"),
          sum(($"l_quantity" * $"l_quantity").cast(D)).cast("double").as("s2"),
          sum(($"l_quantity" * $"l_quantity" * $"l_quantity").cast(D))
            .cast("double").as("s3"),
          sum(($"l_quantity" * $"l_quantity" * $"l_quantity" * $"l_quantity")
            .cast(D)).cast("double").as("s4"))
        .withColumn("m", $"s1" / $"n")
        .withColumn("m2", $"s2" / $"n" - $"m" * $"m")
        .select($"l_returnflag",
          // + 0.0 canonicalizes IEEE −0.0 (a tiny negative skew can
          // round to the negative zero) — mirrored in the oracle
          (round(($"s3" / $"n" - lit(3.0) * $"m" * ($"s2" / $"n") +
            lit(2.0) * $"m" * $"m" * $"m") / pow($"m2", 1.5), 4) + 0.0)
            .as("skew_pop"),
          (round(($"s4" / $"n" - lit(4.0) * $"m" * ($"s3" / $"n") +
            lit(6.0) * $"m" * $"m" * ($"s2" / $"n") -
            lit(3.0) * $"m" * $"m" * $"m" * $"m") / ($"m2" * $"m2"), 4) + 0.0)
            .as("kurt_pop"))
        .orderBy($"l_returnflag")
    }, Some("""
      WITH st AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(sum(CAST(l_quantity * l_quantity * l_quantity
                 AS DECIMAL(38,6))) AS DOUBLE) AS s3,
               CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                 AS DECIMAL(38,6))) AS DOUBLE) AS s4
        FROM lineitem GROUP BY l_returnflag),
      m AS (SELECT l_returnflag, n, s1, s2, s3, s4,
                   s1 / n AS m, s2 / n - (s1 / n) * (s1 / n) AS m2
            FROM st)
      SELECT l_returnflag,
             round((s3 / n - 3.0 * m * (s2 / n) + 2.0 * m * m * m)
                   / pow(m2, 1.5), 4) + 0.0 AS skew_pop,
             round((s4 / n - 4.0 * m * (s3 / n) + 6.0 * m * m * (s2 / n)
                    - 3.0 * m * m * m * m) / (m2 * m2), 4) + 0.0 AS kurt_pop
      FROM m ORDER BY l_returnflag""")),

    // quantileExactWeighted: revenue-weighted quantity quantiles per
    // return flag — the smallest value whose cumulative weight reaches
    // level·totalWeight (CH's discrete weighted selection, no
    // interpolation). Weights are integer cents; the value-count
    // construction keeps per-group windows at O(distinct values).
    QDef("agg_quantiles_weighted", (s, dir) => {
      import s.implicits._
      Quantiles.exactQuantilesWeighted(
          Tables(s, dir, "lineitem"),
          Seq("l_returnflag"), col("l_quantity"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"),
          Seq(0.25, 0.5, 0.75))
        .orderBy($"l_returnflag", $"q")
    }, Some("""
      WITH vc AS (SELECT l_returnflag, l_quantity AS v,
                         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                              AS BIGINT) AS w
                  FROM lineitem GROUP BY l_returnflag, l_quantity),
      cum AS (SELECT l_returnflag, v, w,
                     sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                     sum(w) OVER (PARTITION BY l_returnflag) AS tw
              FROM vc),
      p AS (SELECT * FROM cum, (SELECT unnest([0.25, 0.5, 0.75]) AS q))
      SELECT l_returnflag, CAST(q AS DOUBLE) AS q,
             min(CASE WHEN cw >= q * tw THEN v END) AS quantile
      FROM p GROUP BY l_returnflag, q
      ORDER BY l_returnflag, q""")),

    // studentTTest (pooled equal-variance t): same exact sums as the
    // Welch query, pooled sp² = ((n1−1)v1 + (n2−1)v2)/(n1+n2−2),
    // df = n1+n2−2 — identical double algebra on both engines.
    QDef("agg_student_ttest", (s, dir) => {
      import s.implicits._
      val D = "decimal(22,6)"
      val st = Tables(s, dir, "lineitem")
        .filter($"l_returnflag".isin("A", "R"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum($"l_quantity".cast(D)).cast("double").as("sx"),
          sum(($"l_quantity" * $"l_quantity").cast(D)).cast("double").as("sxx"))
        .withColumn("m", $"sx" / $"n")
        .withColumn("v", ($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1))
      val a = st.filter($"l_returnflag" === "A")
        .select($"n".as("n1"), $"m".as("m1"), $"v".as("v1"))
      val r = st.filter($"l_returnflag" === "R")
        .select($"n".as("n2"), $"m".as("m2"), $"v".as("v2"))
      a.crossJoin(r)
        .withColumn("sp2",
          (($"n1" - 1) * $"v1" + ($"n2" - 1) * $"v2") / ($"n1" + $"n2" - 2))
        .select(
          round(($"m1" - $"m2") /
            sqrt($"sp2" * (lit(1.0) / $"n1" + lit(1.0) / $"n2")), 4).as("t_stat"),
          ($"n1" + $"n2" - 2).as("df"))
    }, Some("""
      WITH st AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sxx
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        GROUP BY l_returnflag),
      m AS (SELECT l_returnflag, n, sx / n AS m, (sxx - sx * sx / n) / (n - 1) AS v
            FROM st),
      j AS (SELECT a.n AS n1, a.m AS m1, a.v AS v1, r.n AS n2, r.m AS m2, r.v AS v2
            FROM (SELECT * FROM m WHERE l_returnflag = 'A') a,
                 (SELECT * FROM m WHERE l_returnflag = 'R') r)
      SELECT round((m1 - m2) /
                   sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
                        * (1.0 / n1 + 1.0 / n2)), 4) AS t_stat,
             n1 + n2 - 2 AS df
      FROM j""")),

    // studentTTestOneSample (CH 24.12): t of the A-flag quantities
    // against a hypothesized mean of 25, df = n−1 — the same
    // DECIMAL-exact sum lattice as the two-sample entry; the p-value
    // tail is the shared studentTPValue final the hash-checked
    // sql_ch_w25_ttests entry already proves.
    QDef("agg_student_ttest_1s", (s, dir) => {
      import s.implicits._
      val D = "decimal(22,6)"
      Tables(s, dir, "lineitem")
        .filter($"l_returnflag" === "A")
        .agg(count(lit(1)).cast("double").as("n"),
          sum($"l_quantity".cast(D)).cast("double").as("sx"),
          sum(($"l_quantity" * $"l_quantity").cast(D)).cast("double").as("sxx"))
        .select(
          round(($"sx" / $"n" - lit(25.0)) /
            sqrt((($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)) / $"n"), 4)
            .as("t_stat"),
          ($"n" - 1).cast("long").as("df"))
    }, Some("""
      WITH st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sxx
        FROM lineitem WHERE l_returnflag = 'A')
      SELECT round((sx / n - 25.0) /
                   sqrt(((sxx - sx * sx / n) / (n - 1)) / n), 4) AS t_stat,
             CAST(n - 1 AS BIGINT) AS df
      FROM st""")),

    // LIMIT n WITH TIES: top-10 retail prices INCLUDING every row tied
    // with the 10th. No global window over raw rows — the threshold is
    // a TakeOrderedAndProject (orderBy.limit) folded to one broadcast
    // scalar, then a plain filter. The oracle restates WITH TIES as
    // rank() ≤ n (DuckDB 1.0 has no native WITH TIES clause), an
    // independent formulation of the same semantics.
    // CH exponentialTimeDecayedSum/Count/Avg (+ the EMA 2^-decay
    // kernel): weight each event by 2^((t - T)/halflife) with T = the
    // group's newest timestamp, halflife = 1 h. Order-independent
    // closed form (decay anchored at max-t, not at scan order), so
    // the same two-phase shape works at any executor count: one
    // shuffle on event_type serves BOTH the window max and the final
    // agg; per-term DECIMAL(22,6) casts make the double sums
    // FP-order-safe. Upstream: AggregateFunctionExponentialMovingAverage.
    QDef("agg_exp_decay", (s, dir) => {
      import s.implicits._
      val D = "decimal(22,6)"
      // per-type max epoch via a TINY pre-aggregate broadcast back,
      // not max() OVER (PARTITION BY event_type): a window keyed by a
      // low-cardinality column caps parallelism at #keys (5 here) and
      // funnels every raw row through 5 hot partitions — the classic
      // 100 TB skew hazard. The join side is O(#types) rows.
      val ev = Tables(s, dir, "events").withColumn("t_us", unix_micros($"ts"))
      val mx = ev.groupBy($"event_type").agg(max($"t_us").as("m"))
      val w = pow(lit(2.0), ($"t_us" - $"m").cast("double") / 3600000000.0)
      ev.join(broadcast(mx), "event_type")
        .withColumn("w", w)
        .groupBy($"event_type")
        .agg(
          round(sum(($"value" * $"w").cast(D)).cast("double"), 4).as("decayed_sum"),
          round(sum($"w".cast(D)).cast("double"), 4).as("decayed_cnt"),
          round((sum(($"value" * $"w").cast(D)) / sum($"w".cast(D)))
            .cast("double"), 4).as("decayed_avg"))
        .orderBy($"event_type")
    }, Some("""
      WITH e AS (
        SELECT event_type, value,
               pow(2.0, (epoch_us(CAST(ts AS TIMESTAMP))
                         - max(epoch_us(CAST(ts AS TIMESTAMP)))
                             OVER (PARTITION BY event_type))
                        / 3600000000.0) AS w
        FROM events)
      SELECT event_type,
             round(CAST(sum(CAST(value * w AS DECIMAL(22,6))) AS DOUBLE), 4)
               AS decayed_sum,
             round(CAST(sum(CAST(w AS DECIMAL(22,6))) AS DOUBLE), 4)
               AS decayed_cnt,
             round(CAST(sum(CAST(value * w AS DECIMAL(22,6)))
                        / sum(CAST(w AS DECIMAL(22,6))) AS DOUBLE), 4)
               AS decayed_avg
      FROM e GROUP BY event_type ORDER BY event_type""")),

    // CH arrayAUC semantics at table scale: AUC of score=value for
    // label=click via the tie-aware rank-sum identity
    // AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg), with average
    // ranks from the value-count distribution — the rank table is
    // O(distinct 2dp values) (bounded by the value DOMAIN, not rows),
    // and doubling the rank keeps every intermediate an exact BIGINT.
    QDef("agg_auc", (s, dir) => {
      import s.implicits._
      val vc = Tables(s, dir, "events")
        .groupBy($"value")
        .agg(count(lit(1)).as("c"),
          sum(when($"event_type" === "click", 1L).otherwise(0L)).as("p"))
      val byVal = Window.orderBy($"value")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = vc.withColumn("cum", coalesce(sum($"c").over(byVal), lit(0L)))
        .withColumn("r2", $"p" * (lit(2) * $"cum" + $"c" + lit(1)))
      ranked.agg(sum($"p").as("n_pos"), sum($"c" - $"p").as("n_neg"),
          sum($"r2").as("r2s"))
        .select($"n_pos", $"n_neg",
          round(($"r2s" - $"n_pos" * ($"n_pos" + 1)).cast("double") /
            (lit(2.0) * $"n_pos" * $"n_neg"), 6).as("auc"))
    }, Some("""
      WITH vc AS (
        SELECT value, count(*) AS c,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS p
        FROM events GROUP BY value),
      ranked AS (
        SELECT p, c,
               p * (2 * coalesce(sum(c) OVER (ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + c + 1) AS r2
        FROM vc),
      tot AS (
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(c - p) AS BIGINT) AS n_neg,
               CAST(sum(r2) AS BIGINT) AS r2s
        FROM ranked)
      SELECT n_pos, n_neg,
             round(CAST(r2s - n_pos * (n_pos + 1) AS DOUBLE)
                   / (2.0 * n_pos * n_neg), 6) AS auc
      FROM tot""")),

    // CH categoricalInformationValue: per-category Information Value
    // of a binary outcome — IV_k = (g_k/G - b_k/B) * ln((g_k/G)/(b_k/B))
    // summed over categories (the credit-scoring feature-selection
    // statistic). Category = event_type, outcome = value above the
    // global median (broadcast 1-row scalar). One contingency pass,
    // all O(|categories|) after the agg; ln() on ratios of exact
    // integer counts is FP-identical across engines, 6dp-rounded.
    QDef("agg_cat_iv", (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      graft.functions.GraftFunctions.register(s)
      val med = ev.agg(
        expr("graft_quantile_exact(CAST(value AS DOUBLE), 0.5D)").as("m"))
      val cells = ev.crossJoin(broadcast(med))
        .groupBy($"event_type")
        .agg(sum(when($"value" > $"m", 1L).otherwise(0L)).as("g"),
          sum(when($"value" <= $"m", 1L).otherwise(0L)).as("b"))
      val tot = cells.agg(sum($"g").as("tg"), sum($"b").as("tb"))
      cells.crossJoin(broadcast(tot))
        .select($"event_type", $"g", $"b",
          round((($"g" / $"tg") - ($"b" / $"tb")) *
            log(($"g" / $"tg") / ($"b" / $"tb")), 6).as("iv_term"))
        .orderBy($"event_type")
    }, Some("""
      WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
      cells AS (
        SELECT event_type,
               CAST(sum(CASE WHEN value > (SELECT m FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS g,
               CAST(sum(CASE WHEN value <= (SELECT m FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM events GROUP BY event_type),
      tot AS (SELECT CAST(sum(g) AS BIGINT) AS tg, CAST(sum(b) AS BIGINT) AS tb FROM cells)
      SELECT event_type, g, b,
             round((g / CAST(tg AS DOUBLE) - b / CAST(tb AS DOUBLE))
                   * ln((g / CAST(tg AS DOUBLE)) / (b / CAST(tb AS DOUBLE))), 6)
               AS iv_term
      FROM cells, tot ORDER BY event_type""")),

    // CH quantileTiming: the fixed timing histogram — values land in
    // 1 ms bins below 1024 ms (exact there), 16 ms bins from 1024 to
    // 30 000 ms, and clamp at 30 000 (upstream QuantileTiming.h bucket
    // layout). Quantile = nearest-rank selection over the cumulative
    // histogram. Everything after the first agg is O(bucket domain)
    // (≤ ~2800 buckets), never O(rows); the per-partition window runs
    // over that bounded bucket table.
    QDef("agg_quantile_timing", (s, dir) => {
      import s.implicits._
      val ms = round($"value" * 10).cast("long")
      val bucket = when(ms < 1024L, ms)
        .when(ms < 30000L, ms - ((ms - 1024L) % 16L))
        .otherwise(30000L)
      val vc = Tables(s, dir, "events")
        .select($"event_type", bucket.as("b"))
        .groupBy($"event_type", $"b").agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy($"event_type").orderBy($"b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy($"event_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = vc.withColumn("cum", sum($"c").over(byType))
        .withColumn("tot", sum($"c").over(all))
      def q(p: Double) = min(when($"cum" >= ceil(lit(p) * $"tot"), $"b"))
      cum.groupBy($"event_type")
        .agg(q(0.5).as("t_p50"), q(0.9).as("t_p90"), q(0.99).as("t_p99"))
        .orderBy($"event_type")
    }, Some("""
      WITH vc AS (
        SELECT event_type,
               CASE WHEN ms < 1024 THEN ms
                    WHEN ms < 30000 THEN ms - ((ms - 1024) % 16)
                    ELSE 30000 END AS b,
               count(*) AS c
        FROM (SELECT event_type,
                     CAST(round(value * 10, 0) AS BIGINT) AS ms FROM events)
        GROUP BY 1, 2),
      cum AS (
        SELECT event_type, b,
               CAST(sum(c) OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(c) OVER (PARTITION BY event_type
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS tot
        FROM vc)
      SELECT event_type,
             min(CASE WHEN cum >= ceil(0.5 * tot) THEN b END) AS t_p50,
             min(CASE WHEN cum >= ceil(0.9 * tot) THEN b END) AS t_p90,
             min(CASE WHEN cum >= ceil(0.99 * tot) THEN b END) AS t_p99
      FROM cum GROUP BY event_type ORDER BY event_type""")),

    // CH sparkbar: the ▁▂▃▄▅▆▇█ inline histogram string — hour-of-day
    // activity profile per event type, 24 buckets, bar level =
    // ceil(8·cnt/max) computed in exact integer arithmetic so both
    // engines pick identical glyphs.
    QDef("agg_sparkbar", (s, dir) => {
      import s.implicits._
      val glyphs = array(Seq("▁", "▂", "▃", "▄",
        "▅", "▆", "▇", "█").map(lit): _*)
      val byHr = Tables(s, dir, "events")
        .groupBy($"event_type", hour($"ts").cast("long").as("hr"))
        .agg(count(lit(1)).as("c"))
      val mx = Window.partitionBy($"event_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byHr.withColumn("lvl",
          (($"c" * 8L + max($"c").over(mx) - 1L) / max($"c").over(mx))
            .cast("long"))
        .groupBy($"event_type")
        .agg(array_join(transform(array_sort(collect_list(struct($"hr", $"lvl"))),
          x => element_at(glyphs, x.getField("lvl").cast("int"))), "").as("spark_bar"))
        .orderBy($"event_type")
    }, Some("""
      WITH byhr AS (
        SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
               count(*) AS c
        FROM events GROUP BY 1, 2),
      lv AS (
        SELECT event_type, hr,
               CAST((c * 8 + max(c) OVER (PARTITION BY event_type) - 1)
                    // max(c) OVER (PARTITION BY event_type) AS INT) AS lvl
        FROM byhr)
      SELECT event_type,
             string_agg(['▁','▂','▃','▄','▅','▆','▇','█'][lvl],
                        '' ORDER BY hr) AS spark_bar
      FROM lv GROUP BY event_type ORDER BY event_type""")),

    QDef("rel_limit_ties", (s, dir) => {
      import s.implicits._
      val th = Tables(s, dir, "part")
        .select($"p_retailprice")
        .orderBy($"p_retailprice".desc)
        .limit(10)
        .agg(min($"p_retailprice").as("th"))
      Tables(s, dir, "part")
        .crossJoin(broadcast(th))
        .filter($"p_retailprice" >= $"th")
        .select($"p_partkey", round($"p_retailprice", 2).as("p_retailprice"))
        .orderBy($"p_retailprice".desc, $"p_partkey")
    }, Some("""
      SELECT p_partkey, round(p_retailprice, 2) AS p_retailprice
      FROM (SELECT p_partkey, p_retailprice FROM part
            QUALIFY rank() OVER (ORDER BY p_retailprice DESC) <= 10)
      ORDER BY p_retailprice DESC, p_partkey""")),

    // PASTE JOIN (positional): align the i-th region with the i-th
    // nation-per-region summary row. Positional semantics need a
    // DEFINED order — both sides number rows over an explicit sort
    // (CH PASTE JOIN documents the same caveat for parallel input).
    QDef("join_paste", (s, dir) => {
      import s.implicits._
      // global windows justified: region is a 5-row bounded dim and
      // the other side is a 25-group pre-aggregate
      val wR = Window.orderBy($"r_regionkey")
      val wN = Window.orderBy($"n_regionkey")
      val a = Tables(s, dir, "region")
        .select($"r_name", row_number().over(wR).as("rn"))
      val b = Tables(s, dir, "nation").groupBy($"n_regionkey")
        .agg(count(lit(1)).as("n_nations"))
        .select($"n_nations", row_number().over(wN).as("rn"))
      a.join(b, "rn").select($"rn", $"r_name", $"n_nations").orderBy($"rn")
    }, Some("""
      SELECT rn, r_name, n_nations
      FROM (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn
            FROM region) a
      JOIN (SELECT n_nations, row_number() OVER (ORDER BY n_regionkey) AS rn
            FROM (SELECT n_regionkey, count(*) AS n_nations
                  FROM nation GROUP BY n_regionkey)) b USING (rn)
      ORDER BY rn""")),

    // Window frame EXCLUDE CURRENT ROW: Spark has no EXCLUDE clause,
    // so the frame sum minus the current row's value emulates it —
    // and the ORACLE uses DuckDB's NATIVE `EXCLUDE CURRENT ROW`, so a
    // hash match proves the emulation implements the standard
    // semantics exactly.
    QDef("window_exclude_current", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_orderkey")
        .rowsBetween(-2, 2)
      val cents = expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
      Tables(s, dir, "orders")
        .filter($"o_orderkey" % 20 === 0)
        .select($"o_orderkey",
          // round-then-cast: Spark's double→long cast truncates while
          // DuckDB's rounds — round(…, 0) first makes them agree.
          // The count() guard matches EXCLUDE's NULL-on-empty-frame:
          // a single-row partition must yield NULL, not 0.
          when(count(lit(1)).over(w) > 1, sum(cents).over(w) - cents)
            .as("neighbor_cents"))
        .orderBy($"o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
                          ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                          EXCLUDE CURRENT ROW) AS BIGINT) AS neighbor_cents
      FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey"""))
  )
}
