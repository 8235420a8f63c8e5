package graft

import org.scalatest.funsuite.AnyFunSuite

/** A compatibility corpus: realistic, tutorial-style ClickHouse
  * queries (the shapes the public docs and ClickBench teach people to
  * write) run VERBATIM through `Graft.sql` against the fixture
  * schema. Individual features have their own oracle-checked gate
  * entries; this spec proves they hold up COMPOSED the way real query
  * text composes them — every query must run and return a sane,
  * non-degenerate result.
  */
class ChCompatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(q: String): Array[org.apache.spark.sql.Row] = {
    Graft.init(spark, "/root/testdata/sf0.001")
    Graft.sql(spark, q).collect()
  }

  test("web-analytics dashboard queries") {
    // hourly traffic with quantiles and heavy hitters
    val r1 = run("""
      SELECT toStartOfHour(ts) AS h,
             count() AS hits,
             uniqExact(user_id) AS users,
             quantile(0.9)(value) AS p90,
             topK(3)(event_type) AS top_events
      FROM events
      GROUP BY h
      ORDER BY h
      LIMIT 24""")
    assert(r1.nonEmpty && r1.forall(_.getLong(1) > 0))
    // shadowing count must keep count(*) / count(x) / DISTINCT intact
    val c = run("""
      SELECT count() AS a, count(*) AS b, count(user_id) AS c,
             count(DISTINCT user_id) AS d
      FROM events""").head
    assert(c.getLong(0) == c.getLong(1) && c.getLong(1) >= c.getLong(2) &&
      c.getLong(2) >= c.getLong(3) && c.getLong(3) > 0)
    // per-type daily trend with totals row
    val r2 = run("""
      SELECT event_type, toStartOfDay(ts) AS d, count() AS c
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY event_type, d WITH TOTALS
      ORDER BY event_type NULLS FIRST, d NULLS FIRST""")
    assert(r2.count(r => r.isNullAt(0)) == 1) // exactly one totals row
    // funnel by cohort, CH-style
    val r3 = run("""
      SELECT user_id % 4 AS cohort,
             countIf(depth >= 2) AS reached_click,
             countIf(depth >= 3) AS reached_purchase
      FROM (
        SELECT user_id,
               windowFunnel(604800)(ts, event_type = 'view',
                 event_type = 'click', event_type = 'purchase') AS depth
        FROM events GROUP BY user_id)
      GROUP BY cohort ORDER BY cohort""")
    assert(r3.length == 4 &&
      r3.forall(r => r.getLong(1) >= r.getLong(2)))
  }

  test("TPC-H-ish business queries in CH dialect") {
    val r1 = run("""
      SELECT o_orderpriority,
             count() AS n,
             round(avgWeighted(o_totalprice, 1), 2) AS avg_price,
             argMax(o_orderkey, o_totalprice) AS biggest_order
      FROM orders
      WHERE toYear(o_orderdate) >= 1992
      GROUP BY o_orderpriority
      HAVING count() > 0
      ORDER BY o_orderpriority""")
    assert(r1.length == 5)
    // dictionary-style enrichment + multiIf banding
    val r2 = run("""
      SELECT multiIf(o_totalprice < 50000, 'small',
                     o_totalprice < 200000, 'mid', 'large') AS band,
             count() AS n,
             uniqUpTo(100)(o_custkey) AS custs
      FROM orders
      GROUP BY band
      ORDER BY band""")
    assert(r2.map(_.getString(0)).toSet.subsetOf(Set("small", "mid", "large")))
    // PREWHERE + sample + top-n
    val r3 = run("""
      SELECT o_custkey, sum(o_totalprice) AS spend
      FROM orders SAMPLE 1/2
      PREWHERE o_orderstatus != 'X'
      GROUP BY o_custkey
      ORDER BY spend DESC, o_custkey
      LIMIT 10""")
    assert(r3.length == 10)
  }

  test("empty/notEmpty are polymorphic like CH") {
    val r = run("""
      SELECT empty('') AND notEmpty('x') AS s,
             empty(array()) AND notEmpty(array(1)) AS a,
             empty(map()) AND notEmpty(map('k', 'v')) AS m,
             empty(CAST('' AS BINARY)) AND notEmpty(CAST('ab' AS BINARY)) AS b
      FROM system.one""").head
    (0 until 4).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("bracket syntax: literals, 1-based subscripts, tuple ordinals") {
    // CH-style quarter banding via a literal lookup table — the
    // subscript MUST be 1-based or every row lands in the wrong band
    val r = run("""
      SELECT ['q1','q2','q3','q4'][toQuarter(o_orderdate)] AS q,
             count() AS n
      FROM orders
      GROUP BY q
      ORDER BY q""")
    assert(r.map(_.getString(0)).toSeq == Seq("q1", "q2", "q3", "q4"))
    assert(r.forall(_.getLong(1) > 0))
    val one = run("""
      SELECT [10,20,30][1] AS first, [10,20,30][-1] AS last,
             [[1,2],[3]][1][2] AS nested, [5][9] AS oob,
             map('k', 7)['k'] AS mv, t.1 AS t1, tupleElement(t, 2) AS t2
      FROM (SELECT tuple(42, 'x') AS t FROM system.one)""").head
    assert(one.getInt(0) == 10 && one.getInt(1) == 30 && one.getInt(2) == 2)
    assert(one.isNullAt(3) && one.getInt(4) == 7)
    assert(one.getInt(5) == 42 && one.getString(6) == "x")
  }

  test("colliding builtin names get CH semantics through the front door") {
    val r = run("""
      SELECT position('Hello world', 'world') AS p,
             position('Hello world', 'o', 6) AS p2,
             position('l' IN 'Hello') AS ansi,
             any(n_name) AS some_name,
             extract('key=742;', '(\\d+)') AS grp,
             extract('key=742;', '\\d+') AS whole,
             extract('nope', '(\\d+)') AS miss
      FROM nation""").head
    assert(r.getInt(0) == 7 && r.getInt(1) == 8 && r.getInt(2) == 3)
    assert(r.getString(3).startsWith("NATION"))
    assert(r.getString(4) == "742" && r.getString(5) == "742")
    assert(r.getString(6) == "")
    // EXTRACT(field FROM ts) is Spark's own syntax — must pass through
    val dp = run(
      "SELECT EXTRACT(YEAR FROM toDate('2024-03-09')) AS y FROM system.one")
      .head
    assert(dp.get(0).toString == "2024")
    // block-order-dependent functions fail loudly toward windows
    val e = intercept[Exception](
      run("SELECT runningDifference(n_nationkey) FROM nation"))
    assert(e.getMessage.contains("window"))
  }

  test("DISTINCT ON routes through the bounded-heap limit-by") {
    val r = run("""
      SELECT DISTINCT ON (event_type) event_type, ts, user_id
      FROM events
      WHERE event_type != ''
      ORDER BY event_type, ts, user_id
      LIMIT 3""")
    assert(r.length == 3)
    assert(r.map(_.getString(0)).distinct.length == 3)
    val e = intercept[Exception](
      run("SELECT DISTINCT ON (event_type) event_type FROM events"))
    assert(e.getMessage.contains("ORDER BY"))
  }

  test("LIMIT WITH TIES edge shapes") {
    // mid-tie cut: every nation in region 0 comes along
    val tied = run("""
      SELECT n_regionkey FROM nation
      ORDER BY n_regionkey LIMIT 3 WITH TIES""")
    assert(tied.length == 5 && tied.forall(_.getInt(0) == 0))
    // unique multi-key order: exactly n rows
    val exact = run("""
      SELECT n_regionkey, n_name FROM nation
      ORDER BY n_regionkey, n_name LIMIT 6 WITH TIES""")
    assert(exact.length == 6)
    // n larger than the data: everything
    val all = run("""
      SELECT r_regionkey FROM region
      ORDER BY r_regionkey DESC LIMIT 99 WITH TIES""")
    assert(all.length == 5)
  }

  test("CH type names in cast positions; parse-or-default casts") {
    val r = run("""
      SELECT CAST(value AS UInt64) AS v,
             value::UInt32 AS v32,
             '3.5'::Float64 AS f,
             CAST(7 AS Nullable(Int32)) AS nn,
             CAST('abc' AS FixedString(3)) AS fs,
             CAST('2024-03-09 10:00:00' AS DateTime64(3)) AS dt64,
             toFloat64OrZero('x') AS z,
             toInt64OrNull('abc') AS miss,
             toUInt8OrZero('300') AS u,
             'AS Int64 stays literal' AS lit_guard
      FROM events ORDER BY ts LIMIT 1""").head
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getDouble(2) == 3.5 && r.getInt(3) == 7 && r.getString(4) == "abc")
    assert(r.getDouble(6) == 0.0 && r.isNullAt(7) && r.getShort(8) == 300)
    assert(r.getString(9) == "AS Int64 stays literal")
    val w = run("""
      SELECT o_orderkey,
             lagInFrame(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
      FROM orders ORDER BY o_orderkey LIMIT 5""")
    assert(w.length == 5)
  }

  test("array / string / date function composition") {
    val r = run("""
      SELECT arrayStringConcat(arrayMap(x -> upper(x),
               arrayFilter(x -> length(x) > 0,
                 splitByChar('_', n_name))), '-') AS slug,
             arraySum(range(modulo(n_nationkey, 5) + 1)) AS tri,
             formatDateTime(toDate('2024-03-09'), '%Y/%m/%d') AS fmt,
             dateDiff('month', toDate('2024-01-31'), toDate('2024-02-01')) AS m,
             if(match(n_name, '^NATION'), 'fixture', 'other') AS kind
      FROM nation
      ORDER BY n_nationkey
      LIMIT 5""")
    assert(r.length == 5)
    assert(r.forall(_.getString(2) == "2024/03/09"))
    assert(r.forall(_.getLong(1) >= 0L))
    assert(r.forall(_.getLong(3) == 1L)) // boundary-crossing semantics
    assert(r.forall(_.getString(4) == "fixture"))
  }

  test("sessionized retention report, all front-door features at once") {
    val r = run("""
      SELECT toMonday(CAST(ts AS DATE)) AS wk,
             uniqExact(user_id) AS wau,
             round(quantileExactWeighted(0.5)(value, 1), 4) AS med_value,
             countIf(event_type = 'purchase') AS purchases
      FROM events
      WHERE event_type != ''
      GROUP BY wk
      ORDER BY wk ASC WITH FILL STEP INTERVAL 7 DAY
      LIMIT 20""")
    assert(r.nonEmpty)
    // filled gap weeks (if any) carry zero counts, real weeks positive
    assert(r.forall(row => row.getLong(1) >= 0))
  }

  test("explicit-schema CREATE TABLE, DEFAULT fill, tuple() key, OUTFILE") {
    Graft.init(spark, "/root/testdata/sf0.001")
    def sql(q: String) = Graft.sql(spark, q)
    sql("""CREATE TABLE compat_schema (
             k Int64,
             v Nullable(String),
             score Float64 DEFAULT k * 2.5,
             tags Array(Int32))
           ENGINE = MergeTree ORDER BY k""")
    assert(sql("SELECT count() AS n FROM compat_schema")
      .collect().head.getLong(0) == 0L)
    // positional insert provides everything; named insert omits
    // `score`, which fills from its DEFAULT (referencing k)
    sql("INSERT INTO compat_schema VALUES (1, 'a', 0.5, array(1, 2))")
    sql("INSERT INTO compat_schema (k, v, tags) SELECT 4, 'd', array(9)")
    val rows = sql("SELECT k, v, score, tags FROM compat_schema ORDER BY k")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(2) == 0.5 && rows(1).getDouble(2) == 10.0)
    // ORDER BY tuple() = no sort key — CH's most common DDL spelling
    sql("""CREATE TABLE compat_nokey ENGINE = MergeTree ORDER BY tuple()
           AS SELECT r_regionkey, r_name FROM region""")
    assert(sql("SELECT count() AS n FROM compat_nokey")
      .collect().head.getLong(0) == 5L)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_outfile_spec"
    sql(s"SELECT k, v FROM compat_schema ORDER BY k " +
      s"INTO OUTFILE '$out' FORMAT CSVWithNames")
    val back = spark.read.option("header", "true").csv(out).collect()
    assert(back.length == 2)
    // OPTIMIZE … DEDUPLICATE drops whole-row duplicates
    sql("INSERT INTO compat_nokey SELECT r_regionkey, r_name FROM region")
    assert(sql("SELECT count() AS n FROM compat_nokey")
      .collect().head.getLong(0) == 10L)
    sql("OPTIMIZE TABLE compat_nokey DEDUPLICATE")
    assert(sql("SELECT count() AS n FROM compat_nokey")
      .collect().head.getLong(0) == 5L)
    // system.parts exposes the backing files with on-disk bytes
    val parts = sql("""SELECT table, count() AS files, sum(bytes_on_disk) AS b
                       FROM system.parts WHERE table = 'compat_nokey'
                       GROUP BY table""").collect()
    assert(parts.length == 1 && parts.head.getLong(2) > 0L)
    sql("DROP TABLE compat_schema")
    sql("DROP TABLE compat_nokey")
    // Memory engine + MATERIALIZED column + CLI-style FORMAT Values
    sql("""CREATE TABLE compat_mem (k Int64,
             twice Int64 MATERIALIZED k * 2) ENGINE = Memory""")
    sql("INSERT INTO compat_mem (k) FORMAT Values (21), (40)")
    val mat = sql("SELECT k, twice FROM compat_mem ORDER BY k").collect()
    assert(mat.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((21L, 42L), (40L, 80L)))
    // a failed CREATE must not leave a half-registered table
    intercept[Exception](sql(
      "CREATE TABLE compat_bad (k Int64) ENGINE = NoSuchEngine"))
    assert(!spark.catalog.tableExists("compat_bad"))
    sql("DROP TABLE compat_mem")
  }

  test("generic combinators, ForEach, map aggregates, sort lambdas") {
    // combinator chains nothing pre-registers: peeled on demand
    val c = run("""
      SELECT countDistinctIf(n_regionkey, n_nationkey > 3) AS cd,
             uniqExactOrNullIf(n_regionkey, n_nationkey < 0) AS empty_null,
             sumOrNull(n_nationkey) AS s,
             avgDistinct(n_regionkey) AS ad,
             sumArray([n_nationkey, 10]) AS sa,
             maxArray([n_nationkey, 7]) AS mx
      FROM nation""").head
    assert(c.getLong(0) == 5 && c.isNullAt(1) &&
      c.getLong(2) == (0 until 25).sum && c.getDouble(3) == 2.0 &&
      c.getLong(4) == (0 until 25).sum + 250 && c.getInt(5) == 24)
    // a combinator suffix on a scalar base must fail loudly
    val e = intercept[Exception](run("SELECT upperIf('a', true) AS x"))
    assert(e.getMessage.contains("non-aggregate base"))
    // parametric + If: FILTER semantics incl. the UDAF forms
    val p = run("""
      SELECT round(quantileIf(0.5)(n_nationkey, n_regionkey = 0), 2) AS q,
             topKIf(1)(n_name, n_regionkey = 0) AS t
      FROM nation""").head
    assert(p.getDouble(0) > 0 && p.getSeq[String](1).size == 1)
    // -ForEach family: elementwise across rows
    val f = run("""
      SELECT sumForEach([toFloat64(n_regionkey), 1.0]) AS s,
             countForEach([n_regionkey]) AS c,
             minForEach([toFloat64(n_nationkey)]) AS mn
      FROM nation""").head
    assert(f.getSeq[Double](0) == Seq(50.0, 25.0) &&
      f.getSeq[Long](1) == Seq(25L) && f.getSeq[Double](2) == Seq(0.0))
    // sumMap/maxMap: two-array and Map-column forms, sorted-key output
    val m = run("""
      SELECT sumMap([n_nationkey % 2, 5], [1, 1]) AS sm,
             maxMap(map(1, n_nationkey)) AS mm
      FROM nation""").head
    val sm = m.getStruct(0)
    assert(sm.getSeq[Double](0) == Seq(0.0, 1.0, 5.0) &&
      sm.getSeq[Double](1) == Seq(13.0, 12.0, 25.0))
    assert(m.getStruct(1).getSeq[Double](1) == Seq(24.0))
    // lambda-first arraySort/arrayReverseSort: stable Schwartzian
    val srt = run("""
      SELECT arraySort(x -> -x, [3, 1, 2]) AS a,
             arrayReverseSort([3, 1, 2]) AS r,
             arrayReverseSort(x -> x % 10, [21, 12, 33, 41]) AS rk""").head
    assert(srt.getSeq[Int](0) == Seq(3, 2, 1) &&
      srt.getSeq[Int](1) == Seq(3, 2, 1) &&
      srt.getSeq[Int](2) == Seq(33, 12, 21, 41))
    // toWeek (MySQL mode-0 weeks), untuple, formatRow, mid,
    // tuple→Map cast, Array(...) cast
    val misc = run("""
      SELECT toWeek(toDate('2024-03-07')) AS w,
             toWeek(toDate('2024-01-06')) AS w0,
             toWeek(toDate('2024-01-07')) AS w1,
             toISOWeek(toDate('2024-03-07')) AS iw,
             mid('hello', 2, 3) AS m,
             formatRow('CSV', 1, 'a,b') AS fr,
             CAST(([1, 2], ['a', 'b']) AS Map(Int64, String)) AS tm,
             CAST(['7', '8'] AS Array(Int64)) AS arr""").head
    assert(misc.getInt(0) == 9 && misc.getInt(1) == 0 && misc.getInt(2) == 1 &&
      misc.getInt(3) == 10 && misc.getString(4) == "ell")
    assert(misc.getString(5) == "1,\"a,b\"")
    assert(misc.getMap[Long, String](6) == Map(1L -> "a", 2L -> "b") &&
      misc.getSeq[Long](7) == Seq(7L, 8L))
    val u = run("SELECT untuple(tuple(1, 'a'))").head
    assert(u.getInt(0) == 1 && u.getString(1) == "a")
    val h = run("SELECT anyHeavy(l_returnflag) AS h FROM lineitem").head
    assert(Set("A", "N", "R")(h.getString(0)))
  }

  test("dialect batch 3: normalize, stable stats, date arith, casts") {
    // Unicode normalization (codegen'd java.text.Normalizer)
    val n = run("""
      SELECT normalizeUTF8NFC('é') AS c, normalizeUTF8NFD('é') AS d,
             normalizeUTF8NFKC('ﬁ') AS k, toValidUTF8('ok') AS v,
             reverseUTF8('abc') AS r""").head
    assert(n.getString(0) == "é" && n.getString(1).length == 2 &&
      n.getString(2) == "fi" && n.getString(3) == "ok" &&
      n.getString(4) == "cba")
    // *Stable moment aliases, isZeroOrNull, ifNotFinite
    val st = run("""
      SELECT round(corrStable(n_regionkey, n_nationkey), 4) AS c,
             round(varPopStable(n_regionkey), 4) AS v,
             isZeroOrNull(0) AS z0, isZeroOrNull(NULL) AS zn,
             isZeroOrNull(3) AS z3,
             ifNotFinite(double('inf'), 42e0) AS inf_sub,
             ifNotFinite(2.5e0, 42e0) AS fin
      FROM nation""").head
    assert(st.getDouble(1) == 2.0 && st.getBoolean(2) && st.getBoolean(3) &&
      !st.getBoolean(4) && st.getDouble(5) == 42.0 && st.getDouble(6) == 2.5)
    // accurateCast family with CH type names
    val ac = run("""
      SELECT accurateCastOrNull('12', 'Int64') AS a,
             accurateCastOrNull('xx', 'Int64') AS b,
             accurateCast(5, 'String') AS c""").head
    assert(ac.getLong(0) == 12L && ac.isNullAt(1) && ac.getString(2) == "5")
    // date arithmetic: native *Add grammar + routed *Sub spellings
    val d = run("""
      SELECT dateSub(DAY, 3, toDate('2024-01-10')) AS d1,
             timestampSub(MONTH, 1, toDate('2024-03-10')) AS d2,
             date_sub(toDate('2024-01-10'), 3) AS d3,
             CAST(dateAdd(MONTH, 1, toDate('2024-01-31')) AS Date) AS d4,
             toStartOfSecond(toDateTime('2024-01-01 10:10:10')) AS s""").head
    assert(d.getDate(0).toString == "2024-01-07" &&
      d.getDate(1).toString == "2024-02-10" &&
      d.getDate(2).toString == "2024-01-07" &&
      d.getDate(3).toString == "2024-02-29")
    // groupConcat + more quantile spellings + sumCount
    val g = run("""
      SELECT groupConcat(n_name, ',') AS g,
             round(quantileBFloat16(0.5)(n_nationkey), 2) AS qb,
             round(quantileDeterministic(0.5)(n_nationkey, n_regionkey), 2) AS qd,
             round(quantileInterpolatedWeighted(0.5)(n_nationkey, 2), 2) AS qw,
             sumCount(n_regionkey) AS sc
      FROM (SELECT * FROM nation ORDER BY n_nationkey LIMIT 5)""").head
    assert(g.getString(0).split(",").length == 5 && g.getDouble(1) == 2.0 &&
      g.getDouble(2) == 2.0 && g.getDouble(3) == 2.0 &&
      g.getStruct(4).getLong(1) == 5L)
    // statement surface: SET / USE / SHOW PROCESSLIST parse and run
    run("SET max_threads = 8")
    run("SHOW PROCESSLIST")
  }

  test("dialect batch 4: TVFs, dictionaries, lexical sugar") {
    // trailing comma before FROM (CH tolerates it)
    assert(run("SELECT n_nationkey, n_name, FROM nation ORDER BY n_nationkey LIMIT 1").length == 1)
    // ordinal access on call results, nested
    val t = run("SELECT tuple(1, 'x').1 AS a, tuple(1, 'x').2 AS b, " +
      "(tuple(tuple(5, 6), 'z').1).2 AS n").head
    assert(t.getInt(0) == 1 && t.getString(1) == "x" && t.getInt(2) == 6)
    // APPLY without parens, both star and COLUMNS forms
    assert(run("SELECT COLUMNS('n_.*key') APPLY max FROM nation").head.getInt(0) == 24)
    // caseWithExpression / caseWithoutExpression
    val cw = run("SELECT caseWithExpression(2, 1, 'a', 2, 'b', 'z') AS x, " +
      "caseWithoutExpression(1 > 2, 'a', 2 > 1, 'b', 'z') AS y").head
    assert(cw.getString(0) == "b" && cw.getString(1) == "b")
    // numbers(offset, count)
    val nn = run("SELECT min(number) AS lo, max(number) AS hi, count() AS c " +
      "FROM numbers(10, 5)").head
    assert(nn.getLong(0) == 10L && nn.getLong(1) == 14L && nn.getLong(2) == 5L)
    // file(): explicit format and extension inference, relative path
    assert(run("SELECT count() AS c FROM file('region.parquet', 'Parquet')").head.getLong(0) == 5L)
    assert(run("SELECT count() AS c FROM file('region.parquet')").head.getLong(0) == 5L)
    // VALUES('schema', …): declared types drive the positional casts
    val v = run("SELECT a, s FROM VALUES('a UInt8, s String', (1, 'x'), (2, 'y')) ORDER BY a")
    assert(v.length == 2 && v.head.getShort(0) == 1 && v.head.getString(1) == "x")
    // generateRandom: md5-seeded, identical bytes across runs
    val g1 = run("SELECT a, s FROM (SELECT * FROM generateRandom('a Int64, s String', 42) LIMIT 10) ORDER BY a")
    val g2 = run("SELECT a, s FROM (SELECT * FROM generateRandom('a Int64, s String', 42) LIMIT 10) ORDER BY a")
    assert(g1.map(_.toString).toSeq == g2.map(_.toString).toSeq && g1.length == 10)
    // DISTINCT ON ordering by a column OUTSIDE the select list
    // (auto-injected and dropped)
    val d = run("SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name " +
      "FROM nation ORDER BY n_regionkey, n_nationkey")
    assert(d.length == 5 && d.head.schema.fieldNames.toSeq ==
      Seq("n_regionkey", "n_name"))
    // CH clauses inside FROM/IN subqueries route recursively
    assert(run("SELECT sum(c) AS t FROM (SELECT n_regionkey, count() AS c " +
      "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey LIMIT 3 BY n_regionkey)")
      .head.getLong(0) == 25L)
    assert(run("SELECT count() AS c FROM nation WHERE n_regionkey IN " +
      "(SELECT r_regionkey FROM region ORDER BY r_regionkey LIMIT 1 BY r_regionkey)")
      .head.getLong(0) == 25L)
    // ORDER-BY-less LIMIT BY is valid CH (arbitrary per-group rows);
    // the deterministic stand-in orders by all projected columns
    assert(run("SELECT sum(c) AS t FROM (SELECT n_regionkey, count() AS c " +
      "FROM nation GROUP BY n_regionkey LIMIT 3 BY n_regionkey)")
      .head.getLong(0) == 25L)
  }

  test("dictionary DDL + dictGet family semantics") {
    run("CREATE DICTIONARY r_dict (r_regionkey Int64, r_name String) " +
      "PRIMARY KEY r_regionkey SOURCE(CLICKHOUSE(TABLE 'region')) " +
      "LAYOUT(FLAT()) LIFETIME(300)")
    val r = run("SELECT dictGet('r_dict', 'r_name', 0) AS hit, " +
      "dictGet('r_dict', 'r_name', 99) AS miss_default, " +
      "dictGetOrNull('r_dict', 'r_name', 99) AS miss_null, " +
      "dictGetOrDefault('r_dict', 'r_name', 99, 'other') AS miss_given, " +
      "dictHas('r_dict', 0) AS h1, dictHas('r_dict', 99) AS h0").head
    assert(r.getString(0) == "AFRICA")
    assert(r.getString(1) == "") // CH: missing key -> type default
    assert(r.isNullAt(2))
    assert(r.getString(3) == "other")
    assert(r.getBoolean(4) && !r.getBoolean(5))
    // the lookup is a literal map: no join in the plan
    val plan = Graft.sql(spark,
      "SELECT dictGet('r_dict', 'r_name', n_regionkey) AS x FROM nation")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"))
    run("DROP DICTIONARY r_dict")
    val gone = intercept[Exception] {
      run("SELECT dictGet('r_dict', 'r_name', 0) AS x")
    }
    assert(gone.getMessage.contains("unknown dictionary"))
  }

  test("DDL lifecycle: CTAS, mutate, reindex, query, drop") {
    Graft.init(spark, "/root/testdata/sf0.001")
    def sql(q: String) = Graft.sql(spark, q)
    sql("""CREATE TABLE compat_t ENGINE = ReplacingMergeTree(v)
           ORDER BY (k) AS
           SELECT n_nationkey AS k, n_name AS name, 1 AS v FROM nation""")
    sql("INSERT INTO compat_t SELECT n_nationkey AS k, lower(n_name) AS name, 2 AS v FROM nation WHERE n_nationkey < 5")
    sql("ALTER TABLE compat_t ADD COLUMN score Float64 DEFAULT k * 1.5")
    sql("ALTER TABLE compat_t ADD INDEX ki k TYPE minmax GRANULARITY 4")
    val latest = sql("SELECT name FROM compat_t FINAL WHERE k = 3 ORDER BY name")
      .collect()
    // FINAL picks v=2 (the lowercase insert) for k=3
    assert(latest.length == 1 && latest.head.getString(0) == latest.head.getString(0).toLowerCase)
    val one = sql("SELECT count() AS n FROM compat_t WHERE k = 3")
      .collect().head.getLong(0)
    assert(one == 2L) // both versions present pre-FINAL
    sql("ALTER TABLE compat_t DELETE WHERE k = 3")
    assert(sql("SELECT count() AS n FROM compat_t WHERE k = 3")
      .collect().head.getLong(0) == 0L)
    // lightweight DELETE — CH's newer spelling of the same mutation
    sql("DELETE FROM compat_t WHERE k = 4")
    assert(sql("SELECT count() AS n FROM compat_t WHERE k = 4")
      .collect().head.getLong(0) == 0L)
    // SHOW CREATE TABLE echoes the verbatim CTAS for front-door
    // tables and synthesizes CH-typed DDL for fixture views
    val ddl = sql("SHOW CREATE TABLE compat_t").collect().head.getString(0)
    assert(ddl.contains("ReplacingMergeTree"))
    val synth = sql("SHOW CREATE TABLE nation").collect().head.getString(0)
    assert(synth.contains("n_nationkey Int32") && synth.contains("n_name String"))
    val est = sql("EXPLAIN ESTIMATE SELECT * FROM compat_t").collect().head
    assert(est.getLong(1) > 0L) // size estimate always propagates
    sql("DROP TABLE compat_t")
  }

  test("DDL table names are case-insensitive: CREATE Foo, SHOW and DROP foo") {
    val ddl = "CREATE TABLE Foo ENGINE = MergeTree ORDER BY tuple() AS SELECT 1 AS x"
    run(ddl)
    assert(run("SHOW CREATE TABLE foo").head.getString(0) == ddl)
    run("DROP TABLE foo")
    assert(!spark.catalog.tableExists("Foo"))
  }

  test("DDL: a failed CREATE leaves no DEFAULT for a later table of that name") {
    intercept[IllegalArgumentException] {
      run("CREATE TABLE compat_stale (a Int32, b Int32 DEFAULT 7) ENGINE = Nope")
    }
    run("CREATE TABLE compat_stale (a Int32, b Int32) ENGINE = MergeTree ORDER BY tuple()")
    run("INSERT INTO compat_stale (a) VALUES (5)")
    val r = run("SELECT a, b FROM compat_stale").head
    assert(r.getInt(0) == 5 && r.isNullAt(1))
    run("DROP TABLE compat_stale")
  }

  test("wave-3 function breadth: JSON / URL / array picks / bits") {
    val j = run("""SELECT JSONExtractBool('{"t": true}', 't') AS b,
      JSONLength('[1,2,3]') AS la, JSONLength('{"a":1,"b":2}') AS lo,
      simpleJSONExtractString('{"a":"x"}', 'a') AS s,
      simpleJSONExtractInt('{"n":7}', 'n') AS n,
      visitParamHas('{"a":1}', 'a') AS h""").head
    assert(j.getBoolean(0) && j.getLong(1) == 3L && j.getLong(2) == 2L &&
      j.getString(3) == "x" && j.getLong(4) == 7L && j.getBoolean(5))
    val u = run("""SELECT protocol('https://x.io/a?q=1#f') AS p,
      extractURLParameter('https://x.io/a?q=1&r=2', 'r') AS r,
      extractURLParameter('https://x.io/a?q=1', 'zz') AS miss,
      cutFragment('https://x.io/a?q=1#f') AS cf""").head
    assert(u.getString(0) == "https" && u.getString(1) == "2" &&
      u.getString(2) == "" && u.getString(3) == "https://x.io/a?q=1")
    val a = run("""SELECT arrayFirst(x -> x > 1, [1, 2, 3]) AS f,
      arrayLast(x -> x > 1, [1, 2, 3]) AS l,
      arrayFirstIndex(x -> x > 1, [1, 2, 3]) AS fi,
      arrayLastIndex(x -> x > 1, [1, 2, 3]) AS li,
      arrayFirstIndex(x -> x > 9, [1, 2, 3]) AS nomatch,
      arrayProduct([2, 3, 4]) AS pr,
      arrayEnumerateUniq([10, 20, 10, 10]) AS eu""").head
    assert(a.getInt(0) == 2 && a.getInt(1) == 3 && a.getInt(2) == 2 &&
      a.getInt(3) == 3 && a.getInt(4) == 0 && a.getDouble(5) == 24.0 &&
      a.getSeq[Int](6) == Seq(1, 1, 2, 3))
    assert(run("SELECT arrayFirst(x -> x > 9, [1, 2]) AS f").head.isNullAt(0))
    val b = run("""SELECT bitTestAll(7, 0, 1, 2) AS ball,
      bitTestAll(5, 0, 1) AS nball, bitTestAny(4, 0, 2) AS bany,
      bitRotateLeft(1, 1) AS rl, bitRotateRight(2, 1) AS rr""").head
    assert(b.getBoolean(0) && !b.getBoolean(1) && b.getBoolean(2) &&
      b.getLong(3) == 2L && b.getLong(4) == 1L)
  }

  test("wave-3: regex groups, rounding ladders, intervals, divide") {
    val g = run("""SELECT extractGroups('key=val', '(\\w+)=(\\w+)') AS eg,
      extractGroups('no match here!', '(\\d+)x(\\d+)') AS empty,
      multiMatchAny('hello', ['^h', 'xx$']) AS mm,
      multiMatchAnyIndex('hello', ['xx', 'ell']) AS mi,
      multiSearchAny('hello', ['ell', 'zzz']) AS ms,
      alphaTokens('ab12cd') AS at""").head
    assert(g.getSeq[String](0) == Seq("key", "val") &&
      g.getSeq[String](1).isEmpty && g.getBoolean(2) && g.getInt(3) == 2 &&
      g.getBoolean(4) && g.getSeq[String](5) == Seq("ab", "cd"))
    val r = run("""SELECT roundDown(7.7, [0, 5, 10]) AS rd,
      roundDown(-3, [0, 5]) AS below, roundToExp2(300) AS r2""").head
    assert(r.getInt(0) == 5 && r.getInt(1) == 0 && r.getLong(2) == 256L)
    val d = run("""SELECT toDate('2024-01-10') + toIntervalMonth(2) AS m,
      toDate('2024-01-10') + toIntervalDay(3) AS dd,
      date_trunc('month', toDate('2024-03-15')) AS dt""").head
    assert(d.getDate(0).toString == "2024-03-10" &&
      d.getTimestamp(1).toString.startsWith("2024-01-13") &&
      d.getTimestamp(2).toString.startsWith("2024-03-01"))
    // CH divide(): Float64 with IEEE inf/nan on zero divisor
    val v = run("""SELECT divide(7, 2) AS q, divide(1, 0) AS inf,
      divide(-1, 0) AS ninf, isNaN(divide(0, 0)) AS nan""").head
    assert(v.getDouble(0) == 3.5 && v.getDouble(1).isPosInfinity &&
      v.getDouble(2).isNegInfinity && v.getBoolean(3))
    // cityHash64/farmHash64/metroHash64/wyHash64 are md5-derived 60-bit
    // STAND-INS, intentionally NOT bit-parity with ClickHouse (CH pins
    // pre-1.1 CityHash; SURVEY §8 known-divergences). These literals
    // pin the stand-in construction — the 60-bit prefix of
    // md5(salt || '\x01' || arg), '\x01'-joined like concat_ws — so it
    // can never drift silently; and they are NOT the CH values: a user
    // porting shard routing must re-shard or use the bit-parity family
    // (sipHash64/murmur*/farmFingerprint64).
    val h = run("""SELECT cityHash64('abc') AS c1, cityHash64('abc') AS c2,
      cityHash64('abd') AS c3, farmHash64('abc') AS f1,
      metroHash64('abc') AS m1, wyHash64('abc') AS w1""").head
    assert(h.getLong(0) == 939545622095971553L)   // md5("city\1abc")[0,15)
    assert(h.getLong(1) == h.getLong(0))
    assert(h.getLong(2) == 716224142348361982L)   // md5("city\1abd")[0,15)
    assert(h.getLong(3) == 1032169877754842587L)  // md5("farm\1abc")[0,15)
    assert(h.getLong(4) == 746441860032610152L)   // md5("metro\1abc")[0,15)
    assert(h.getLong(5) == 253480069743263590L)   // md5("wy\1abc")[0,15)
  }

  test("wave-3 clauses: FETCH FIRST, COLLATE, LowCardinality, char") {
    val f = run("SELECT n_nationkey FROM nation ORDER BY n_nationkey " +
      "OFFSET 2 ROWS FETCH FIRST 3 ROWS ONLY")
    assert(f.map(_.getInt(0)).toSeq == Seq(2, 3, 4))
    assert(run("SELECT n_nationkey FROM nation ORDER BY n_nationkey " +
      "FETCH NEXT 2 ROWS ONLY").map(_.getInt(0)).toSeq == Seq(0, 1))
    // COLLATE strips to binary order (identical on ASCII keys)
    assert(run("SELECT n_name FROM nation ORDER BY n_name COLLATE 'en' " +
      "LIMIT 2").map(_.getString(0)).toSeq == Seq("NATION_0", "NATION_1"))
    val lc = run("""SELECT CAST('x' AS LowCardinality(String)) AS a,
      CAST(5 AS LowCardinality(Nullable(Int64))) AS b,
      toLowCardinality('y') AS c, toFixedString('ab', 4) AS d,
      char(72, 105) AS ch""").head
    assert(lc.getString(0) == "x" && lc.getLong(1) == 5L &&
      lc.getString(2) == "y" && lc.getString(3).length == 4 &&
      lc.getString(4) == "Hi")
  }

  test("round-7 surface composed: merge + element-exact quantiles + planners + formatRow") {
    // multi-table union view feeding element-exact quantile picks
    val r1 = run("""
      SELECT _table,
             quantileExactLow(0.5)(n_nationkey) AS med_lo,
             quantileExactHigh(0.5)(n_nationkey) AS med_hi
      FROM merge('^nation$')
      GROUP BY _table ORDER BY _table""").head
    assert(r1.getString(0) == "nation" &&
      r1.getAs[Number](1).longValue == 12L && r1.getAs[Number](2).longValue == 12L)
    // A/B planner driven by live aggregates, rendered as JSONEachRow
    val r2 = run("""
      SELECT formatRowNoNewline('JSONEachRow', n) AS j
      FROM (SELECT CAST(ceiling(minSampleSizeConversion(0.25, 0.03, 0.80, 0.05).1) AS Int64) AS n)""").head
    assert(r2.getString(0) == "{\"n\":3397}")
    // consistent sharding + deterministic shuffle composed in one text
    val r3 = run("""
      SELECT jumpConsistentHash(n_nationkey, 8) AS shard,
             arrayStringConcat(arrayMap(x -> toString(x),
               arrayRandomSample([n_nationkey, 1, 2, 3], 2, 42)), '|') AS pick
      FROM nation ORDER BY n_nationkey LIMIT 1""").head
    assert(r3.getInt(0) >= 0 && r3.getInt(0) < 8 && r3.getString(1).nonEmpty)
  }

  test("clause keywords inside string literals never trigger routing") {
    // every routed clause spelled INSIDE a literal — the peeler's
    // string mask must leave all of these untouched
    val r1 = run("""
      SELECT 'ORDER BY x WITH FILL FROM 1 TO 9' AS a,
             'LIMIT 3 BY k SAMPLE 0.5' AS b,
             'GROUP BY t WITH TOTALS PREWHERE z' AS c,
             'ASOF JOIN u ON a.t >= b.t' AS d,
             'merge(''^x$'') FORMAT JSONEachRow' AS e
      FROM nation ORDER BY n_nationkey LIMIT 1""").head
    assert(r1.getString(0).contains("WITH FILL") &&
      r1.getString(1).contains("SAMPLE") &&
      r1.getString(2).contains("TOTALS") &&
      r1.getString(3).contains("ASOF") &&
      r1.getString(4).contains("merge("))
    // routed clause NEXT TO a literal containing another clause
    val r2 = run("""
      SELECT n_regionkey, 'DISTINCT ON (x) LIMIT 9 BY y' AS s
      FROM nation ORDER BY n_regionkey, n_nationkey LIMIT 2 BY n_regionkey""")
    assert(r2.length == 10 && r2.forall(_.getString(1).contains("DISTINCT ON")))
    // escaped quotes inside the literal keep the mask aligned
    val r3 = run(
      "SELECT 'it''s ORDER BY x WITH FILL here' AS s FROM system.one").head
    assert(r3.getString(0) == "it's ORDER BY x WITH FILL here")
    // table-level rewrites (SAMPLE / FINAL / system.* / numbers())
    // spelled inside literals survive verbatim too
    val r4 = run("""
      SELECT 'FROM nation SAMPLE 0.5' AS a,
             'FROM nation FINAL' AS b,
             'system.one and system.numbers' AS c,
             'numbers(10)' AS d
      FROM nation LIMIT 1""").head
    assert(r4.getString(0) == "FROM nation SAMPLE 0.5" &&
      r4.getString(1) == "FROM nation FINAL" &&
      r4.getString(2) == "system.one and system.numbers" &&
      r4.getString(3) == "numbers(10)")
  }

  test("WITH RECURSIVE: native fixed point + loud fail on runaway recursion") {
    // bounded recursion computes the fixed point (Spark 4 UnionLoop)
    val r = run("""
      WITH RECURSIVE c AS (
        SELECT 1 AS n UNION ALL SELECT n + 1 AS n FROM c WHERE n < 10)
      SELECT count() AS c, max(n) AS m FROM c""").head
    assert(r.getLong(0) == 10L && r.getInt(1) == 10)
    // CH dialect spellings reach the recursive member through the
    // front door (intDiv rewrite inside the loop body)
    val r2 = run("""
      WITH RECURSIVE h AS (
        SELECT CAST(40 AS Int64) AS n
        UNION ALL SELECT intDiv(n, 2) AS n FROM h WHERE n > 1)
      SELECT count() AS c, min(n) AS lo FROM h""").head
    assert(r2.getLong(0) == 6L && r2.getLong(1) == 1L) // 40,20,10,5,2,1
    // unbounded recursion fails LOUDLY at the recursion-level limit
    // instead of spinning forever
    val e = intercept[Exception] { run("""
      WITH RECURSIVE c AS (
        SELECT 1 AS n UNION ALL SELECT n + 1 AS n FROM c)
      SELECT max(n) AS m FROM c""") }
    assert(e.getMessage != null)
  }

  test("ternary operator: nesting, AND-bound condition, string immunity") {
    // parenthesized nesting + a '?'-heavy pattern string left intact
    val r = run("""SELECT 1 = 1 ? (2 > 1 ? 'a' : 'b') : 'c' AS x,
      '(?1)(?t<=3600)(?2)' AS pat FROM system.one""").head
    assert(r.getString(0) == "a" && r.getString(1) == "(?1)(?t<=3600)(?2)")
    // AND binds tighter than ?: (C precedence) — whole conjunction is
    // the condition; unparenthesized chain in the else-branch
    val r2 = run("""
      SELECT n_nationkey % 2 = 0 AND n_regionkey = 0 ? 'e0'
             : n_regionkey = 1 ? 'r1' : 'x' AS c
      FROM nation WHERE n_nationkey = 0""").head
    assert(r2.getString(0) == "e0")
    // '::' casts are not ternary colons
    val r3 = run(
      "SELECT n_nationkey > 0 ? '1'::Int64 : 0 AS v FROM nation WHERE n_nationkey = 5").head
    assert(r3.getLong(0) == 1L)
    // ternary in ORDER BY / GROUP BY position: the condition must
    // bound at the clause keyword, not swallow the FROM
    val r4 = run("""SELECT n_regionkey FROM nation
      ORDER BY n_regionkey = 0 ? 0 : 1, n_nationkey LIMIT 2""")
      .map(_.getInt(0)).toSeq
    assert(r4 == Seq(0, 0)) // region-0 nations sort first
    val r5 = run("""SELECT n_regionkey < 2 ? 'lo' : 'hi' AS b, count() AS c
      FROM nation GROUP BY n_regionkey < 2 ? 'lo' : 'hi' ORDER BY b""")
    assert(r5.map(_.getString(0)).toSeq == Seq("hi", "lo") &&
      r5.map(_.getLong(1)).sum == 25L)
  }

  test("query parameters: SET param_ + {name:Type} substitution") {
    run("SET param_qp_cut = 7")
    run("SET param_qp_name = 'NATION_2'")
    val r = run("""
      SELECT count() AS c,
             countIf(n_name = {qp_name:String}) AS hit
      FROM nation WHERE n_nationkey < {qp_cut:Int64}""").head
    assert(r.getLong(0) == 7L && r.getLong(1) == 1L)
    // unset parameter fails loudly, like CH
    val e = intercept[IllegalArgumentException] {
      run("SELECT {never_set_param:Int64} AS x") }
    assert(e.getMessage.contains("never_set_param"))
    // braces inside string literals stay literal
    val r2 = run("SELECT '{qp_cut:Int64}' AS s FROM system.one").head
    assert(r2.getString(0) == "{qp_cut:Int64}")
  }

  test("hash family: public smhasher/FarmHash vectors, murmur2 stability") {
    val r = run("""
      SELECT murmurHash3_32('') AS a0, murmurHash3_32('a') AS a1,
             murmurHash3_32('abc') AS a2,
             murmurHash3_64('') AS b0, murmurHash3_64('a') AS b1,
             farmFingerprint64('') AS c0, farmFingerprint64('ClickHouse') AS c1,
             length(hex(murmurHash3_128('abc'))) AS d,
             murmurHash2_32('abc') AS e, murmurHash2_64('abc') AS f""").head
    // murmur3 x86_32 / x64_128 seed 0 — the public smhasher vectors
    assert(r.getLong(0) == 0L && r.getLong(1) == 1009084850L &&
      r.getLong(2) == 3017643002L)
    assert(r.getLong(3) == 0L &&
      r.getLong(4) == java.lang.Long.parseUnsignedLong("9607679276477937801"))
    // FarmHash Fingerprint64 — empty-input vector from the farmhash
    // test suite (0x9ae16a3b2f90404f)
    assert(r.getLong(5) ==
      java.lang.Long.parseUnsignedLong("11160318154034397263") &&
      r.getLong(6) == 4321509792407916471L)
    assert(r.getInt(7) == 32)
    // murmur2 transcription stability pins (no independent JVM oracle
    // on this box — the algorithm is the public MurmurHash2 reference)
    assert(r.getLong(8) == 324500635L &&
      r.getLong(9) == -7148968302806999301L)
  }

  test("r8 advice contracts: zip size guard, hasColumnInTable, bit 63, exact picks") {
    // multi-item ARRAY JOIN: equal sizes zip; a mismatched companion
    // raises CH's hard size error in BOTH directions (shorter would
    // otherwise hit ANSI element_at, longer would silently truncate)
    val z = run("""SELECT a, b FROM system.one
      ARRAY JOIN [1, 2] AS a, [10, 20] AS b""")
    assert(z.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 10), (2, 20)))
    val eShort = intercept[Exception] { run("""SELECT a, b FROM system.one
      ARRAY JOIN [1, 2, 3] AS a, [10, 20] AS b""") }
    assert(eShort.getMessage != null)
    intercept[Exception] { run("""SELECT a, b FROM system.one
      ARRAY JOIN [1, 2] AS a, [10, 20, 30] AS b""") }
    // hasColumnInTable: 2-arg hits the registered table; a missing
    // table THROWS (CH contract) — and the 3-arg db form resolves
    // db.table, so a bogus db can no longer silently fall back to the
    // bare table name
    val h = run("""SELECT hasColumnInTable('nation', 'n_name') AS a,
      hasColumnInTable('nation', 'no_such_col') AS b""").head
    assert(h.getBoolean(0) && !h.getBoolean(1))
    intercept[Exception] {
      run("SELECT hasColumnInTable('no_such_table', 'c') AS x") }
    intercept[Exception] {
      run("SELECT hasColumnInTable('no_such_db', 'nation', 'n_name') AS x") }
    // bitmaskToArray/List reach bit 63 (the sign bit): 2^63 is
    // Long.MIN_VALUE in two's complement, previously silently dropped
    val b = run("""SELECT bitmaskToArray(shiftLeft(CAST(1 AS Int64), 63)) AS a,
      bitmaskToList(-1) AS l""").head
    assert(b.getSeq[Long](0) == Seq(Long.MinValue) &&
      b.getString(1).split(",").length == 64)
    // quantileExactLow/High: CH's floor(level·n) index (NOT the old
    // (n−1)-based rank) — 24 values 0..23 at 0.25 give element 6 for
    // both; the 0.5 special case picks lower/upper middle (11 vs 12)
    val qp = run("""
      SELECT quantileExactLow(0.25)(n_nationkey) AS a,
             quantileExactHigh(0.25)(n_nationkey) AS b,
             quantileExactLow(0.5)(n_nationkey) AS c,
             quantileExactHigh(0.5)(n_nationkey) AS d
      FROM nation WHERE n_nationkey < 24""").head
    assert(qp.getInt(0) == 6 && qp.getInt(1) == 6 &&
      qp.getInt(2) == 11 && qp.getInt(3) == 12)
    // SETTINGS clause max_threads: validated and per-query record-only
    // (the session's shuffle partitions must NOT change); SET is
    // session-scoped like CH and restores cleanly
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    run("SELECT 1 AS x FROM system.one SETTINGS max_threads = 7")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    intercept[Exception] {
      run("SELECT 1 AS x FROM system.one SETTINGS max_threads = 'junk'") }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    run("SET max_threads = 16")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "16")
    run(s"SET max_threads = $before")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("s2/h3 CH spellings: documented vectors through the front door") {
    // geoToS2/s2ToGeo — the CH docs example values, verbatim spellings
    val s2 = run("""
      SELECT geoToS2(37.79506683, 55.71290588) AS id,
             round(s2ToGeo(geoToS2(37.79506683, 55.71290588)).1, 8) AS lon,
             round(s2ToGeo(geoToS2(37.79506683, 55.71290588)).2, 8) AS lat,
             s2CellsIntersect(geoToS2(10.0, 50.0), geoToS2(10.0, 50.0)) AS self,
             s2CapContains(geoToS2(10.0, 50.0), 1.0, geoToS2(10.5, 50.2)) AS cap,
             s2RectContains(geoToS2(5.0, 45.0), geoToS2(15.0, 55.0),
                            geoToS2(10.5, 50.2)) AS rect""").head
    assert(s2.getLong(0) == 4704772434919038107L)
    assert(s2.getDouble(1) == 37.79506681 && s2.getDouble(2) == 55.71290591)
    assert(s2.getBoolean(3) && s2.getBoolean(4) && s2.getBoolean(5))
    // h3 bit algebra — the published 8928308280fffff examples
    val h3 = run("""
      SELECT h3GetResolution(stringToH3('8928308280fffff')) AS res,
             h3GetBaseCell(stringToH3('8928308280fffff')) AS base,
             h3ToString(h3ToParent(stringToH3('8928308280fffff'), 8)) AS p8,
             h3IsValid(stringToH3('8928308280fffff')) AS ok,
             h3IsPentagon(stringToH3('8009fffffffffff')) AS pent,
             h3IsResClassIII(stringToH3('8928308280fffff')) AS c3""").head
    assert(h3.getInt(0) == 9 && h3.getInt(1) == 20)
    assert(h3.getString(2) == "8828308281fffff")
    assert(h3.getBoolean(3) && h3.getBoolean(4) && h3.getBoolean(5))
    // geoToH3/h3ToGeo — native projection since r17 (H3Proj), pinned
    // to the CH-documentation examples (CH order: lon, lat, res)
    val g = run("""
      SELECT geoToH3(37.79506683, 55.71290588, 15) AS h,
             h3ToGeo(644325524701193974) AS geo,
             h3kRing(stringToH3('8928308280fffff'), 1) AS ring,
             h3Distance(stringToH3('8928308280fffff'),
                        stringToH3('8928308280bffff')) AS dist,
             h3HexAreaM2(13) AS area13,
             h3EdgeLengthM(10) AS edge10""").head
    assert(g.getLong(0) == 644325524701193974L)
    val geo = g.getStruct(1)
    assert(math.abs(geo.getDouble(0) - 37.79506616830252) < 1e-9) // lon first
    assert(math.abs(geo.getDouble(1) - 55.71290243145668) < 1e-9)
    assert(g.getSeq[Long](2).length == 7 &&
      g.getSeq[Long](2).contains(0x8928308280fffffL))
    assert(g.getLong(3) == 1L)
    assert(g.getDouble(4) == 43.9) // CH docs: h3HexAreaM2(13) -> 43.9
    assert(g.getDouble(5) == 65.90780749) // CH docs: h3EdgeLengthM(10)
  }

  test("generateULID / ULIDStringToDateTime (r18)") {
    // decode is deterministic: the well-known spec example's 10-char
    // time prefix is Crockford 1469922850259 ms (re-derived
    // independently: Σ digit·32^k over the published alphabet)
    val d = run("""
      SELECT ULIDStringToDateTime('01ARZ3NDEKTSV4RRFFQ69G5FAV') AS t,
             ULIDStringToDateTime('01arz3ndektsv4rrffq69g5fav') AS tl,
             ULIDStringToDateTime('0000000001AAAAAAAAAAAAAAAA') AS one""").head
    assert(d.getTimestamp(0).getTime == 1469922850259L, d.getTimestamp(0))
    assert(d.getTimestamp(1).getTime == 1469922850259L, "case-insensitive")
    assert(d.getTimestamp(2).getTime == 1L)
    // generator: 26 Crockford chars, distinct across calls, and its
    // own decode lands within minutes of now
    val g = run("""
      SELECT generateULID() AS a, generateULID() AS b,
             ULIDStringToDateTime(generateULID()) AS t""").head
    val ulid = g.getString(0)
    assert(ulid.length == 26 &&
      ulid.forall("0123456789ABCDEFGHJKMNPQRSTVWXYZ".contains(_)), ulid)
    assert(g.getString(1) != ulid, "two ULIDs in one row collided")
    val skewMs = math.abs(g.getTimestamp(2).getTime - System.currentTimeMillis())
    assert(skewMs < 600000L, s"ULID time prefix off by $skewMs ms")
    // malformed input yields NULL (the decoder's documented contract)
    assert(run("SELECT ULIDStringToDateTime('not-a-ulid') AS x").head.isNullAt(0))
  }
}
