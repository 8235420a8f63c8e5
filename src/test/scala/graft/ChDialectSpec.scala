package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** ClickHouse-spelled SQL runs unchanged: each dialect function must
  * equal its Spark-spelled twin on fixture data.
  */
class ChDialectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CH-spelled scalar functions equal their Spark twins") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val rows = Graft.sql(spark, """
      SELECT
        lengthUTF8(n_name) = length(n_name) AS a,
        modulo(n_nationkey, 7) = n_nationkey % 7 AS b,
        ifNull(NULL, n_nationkey) = n_nationkey AS c,
        empty('') AND notEmpty(n_name) AS d,
        multiIf(n_nationkey < 5, 'lo', n_nationkey < 15, 'mid', 'hi') =
          CASE WHEN n_nationkey < 5 THEN 'lo'
               WHEN n_nationkey < 15 THEN 'mid' ELSE 'hi' END AS e,
        has(splitByChar(' ', n_name || ' X'), 'X') AS f,
        arrayUniq(array(1, 1, 2)) = 2 AS g,
        sipHash64(n_name) = sip_hash64(n_name) AS h,
        isValidUTF8(n_name) AS i,
        toValidUTF8(n_name) = n_name AS j
      FROM nation""").collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i in $r"))
    }
  }

  test("CH aggregate spellings equal their Spark twins") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        argMax(n_name, n_nationkey) = max_by(n_name, n_nationkey) AS a,
        argMin(n_name, n_nationkey) = min_by(n_name, n_nationkey) AS b,
        countIf(n_regionkey = 0) = count_if(n_regionkey = 0) AS c,
        sumIf(n_nationkey, n_regionkey = 0) =
          sum(CASE WHEN n_regionkey = 0 THEN n_nationkey END) AS d,
        avgIf(n_nationkey, n_regionkey = 0) =
          avg(CASE WHEN n_regionkey = 0 THEN n_nationkey END) AS e,
        maxIf(n_nationkey, n_regionkey = 1) =
          max(CASE WHEN n_regionkey = 1 THEN n_nationkey END) AS f,
        uniqExact(n_regionkey) = count(DISTINCT n_regionkey) AS g,
        groupBitmap(n_regionkey) = count(DISTINCT n_regionkey) AS g2,
        quantileExact(n_nationkey, 0.5) = percentile(n_nationkey, 0.5) AS h,
        argMaxIf(n_name, n_nationkey, n_regionkey = 1) =
          max_by(CASE WHEN n_regionkey = 1 THEN n_name END,
                 CASE WHEN n_regionkey = 1 THEN n_nationkey END) AS h2,
        argMinIf(n_name, n_nationkey, n_regionkey = 1) =
          min_by(CASE WHEN n_regionkey = 1 THEN n_name END,
                 CASE WHEN n_regionkey = 1 THEN n_nationkey END) AS h3,
        uniqCombined(n_regionkey) = uniq(n_regionkey) AS h4,
        size(groupUniqArray(n_regionkey)) = 5 AS i
      FROM nation""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("CH date functions truncate as documented") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT toStartOfDay(o_orderdate) = date_trunc('DAY', o_orderdate) AS a,
             toStartOfMonth(o_orderdate) = trunc(CAST(o_orderdate AS DATE), 'MONTH') AS b,
             toYear(o_orderdate) = year(o_orderdate) AS c,
             toYYYYMM(o_orderdate) = CAST(date_format(o_orderdate, 'yyyyMM') AS INT) AS d,
             toStartOfQuarter(o_orderdate) = trunc(CAST(o_orderdate AS DATE), 'QUARTER') AS e,
             toQuarter(o_orderdate) = quarter(o_orderdate) AS f,
             toDayOfWeek(o_orderdate) = weekday(o_orderdate) + 1 AS g,
             toDayOfWeek(DATE '2026-08-10') = 1 AS h, -- a Monday, ISO numbering
             -- CH default mode 0: week starts Sunday ('2026-08-12' is a Wednesday)
             toStartOfWeek(DATE '2026-08-12') = DATE '2026-08-09' AS i,
             toStartOfWeek(DATE '2026-08-09') = DATE '2026-08-09' AS j, -- Sunday fixpoint
             toStartOfWeek(DATE '2026-08-12', 1) = DATE '2026-08-10' AS k, -- mode 1: Monday
             toStartOfWeek(DATE '2026-08-10', 3) = DATE '2026-08-10' AS l -- odd mode: Monday
      FROM orders LIMIT 100""").collect()
    r.foreach { row =>
      (0 until row.length).foreach(i => assert(row.getBoolean(i), s"col $i"))
    }
  }

  test("CH date arithmetic, dateDiff boundary semantics, formatDateTime") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        addDays(DATE '2026-02-27', 2) = DATE '2026-03-01' AS a,
        subtractDays(DATE '2026-03-01', 1) = DATE '2026-02-28' AS b,
        addMonths(DATE '2026-01-31', 1) = DATE '2026-02-28' AS c,
        addYears(DATE '2024-02-29', 1) = DATE '2025-02-28' AS d,
        addWeeks(DATE '2026-08-01', 2) = DATE '2026-08-15' AS e,
        toYYYYMMDD(DATE '2026-08-12') = 20260812 AS f,
        toDayOfYear(DATE '2026-02-01') = 32 AS g,
        toLastDayOfMonth(DATE '2026-02-10') = DATE '2026-02-28' AS h,
        -- boundary-crossing dateDiff: 23:00 → next day 01:00 is 1 day
        dateDiff('day', TIMESTAMP '2026-01-01 23:00:00',
                        TIMESTAMP '2026-01-02 01:00:00') = 1 AS i,
        dateDiff('hour', TIMESTAMP '2026-01-01 10:59:00',
                         TIMESTAMP '2026-01-01 12:01:00') = 2 AS j,
        dateDiff('month', DATE '2025-12-15', DATE '2026-01-02') = 1 AS k,
        dateDiff('second', TIMESTAMP '2026-01-01 00:00:00',
                           TIMESTAMP '2026-01-01 00:01:30') = 90 AS l,
        formatDateTime(TIMESTAMP '2026-08-12 09:05:07', '%Y-%m-%d %H:%i:%S')
          = '2026-08-12 09:05:07' AS m,
        formatDateTime(DATE '2026-08-12', '%F') = '2026-08-12' AS n,
        formatDateTime(TIMESTAMP '2026-08-12 09:05:07', '100%% %T')
          = '100% 09:05:07' AS o""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("CH string/array/map/json aliases equal their Spark twins") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        leftPad('7', 3, '0') = '007' AS a,
        trimBoth('  x  ') = 'x' AS b,
        base64Decode(base64Encode('graft')) = 'graft' AS c,
        arrayFlatten(array(array(1, 2), array(3))) = array(1, 2, 3) AS d,
        arrayMin(array(3, 1, 2)) = 1 AND arrayMax(array(3, 1, 2)) = 3 AS e,
        arraySlice(array(1, 2, 3, 4), 2, 2) = array(2, 3) AS f,
        mapContains(map('k', 1), 'k') AS g,
        JSONExtractString('{"a": {"b": "v"}}', 'a', 'b') = 'v' AS h,
        JSONExtractInt('{"n": 42}', 'n') = 42 AS i,
        JSONHas('{"n": 42}', 'n') AND NOT JSONHas('{"n": 42}', 'z') AS j,
        roundBankers(2.5) = 2 AND roundBankers(3.5) = 4 AS k,
        toInt32('11') = 11 AND toFloat32('1.5') = CAST(1.5 AS FLOAT) AS l,
        bitCount(7) = 3 AS m""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("array push/pop/enumerate, hasAll/hasAny, arithmetic spellings, sub-hour truncs") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        hasAll(array(1, 2, 3), array(2, 3)) AND NOT hasAll(array(1, 2), array(3)) AS a,
        hasAny(array(1, 2), array(2, 9)) AND NOT hasAny(array(1, 2), array(8, 9)) AS b,
        arrayEnumerate(array('x', 'y', 'z')) = array(1, 2, 3)
          AND size(arrayEnumerate(array())) = 0 AS c,
        arrayPushBack(array(1, 2), 3) = array(1, 2, 3) AS d,
        arrayPushFront(array(2, 3), 1) = array(1, 2, 3) AS e,
        arrayPopBack(array(1, 2, 3)) = array(1, 2)
          AND size(arrayPopBack(array())) = 0 AS f,
        arrayPopFront(array(1, 2, 3)) = array(2, 3)
          AND size(arrayPopFront(array(7))) = 0 AS g,
        plus(2, 3) = 5 AND minus(2, 3) = -1 AND multiply(4, 5) = 20
          AND divide(7, 2) = 3.5 AND negate(4) = -4 AS h,
        startsWith('clickhouse', 'click') AND endsWith('clickhouse', 'house') AS i,
        bitShiftLeft(1, 4) = 16 AND bitShiftRight(16, 4) = 1 AS j,
        toStartOfMinute(TIMESTAMP '2026-08-12 09:05:42')
          = TIMESTAMP '2026-08-12 09:05:00' AS k,
        toStartOfFiveMinutes(TIMESTAMP '2026-08-12 09:07:42')
          = TIMESTAMP '2026-08-12 09:05:00' AS l,
        toStartOfFifteenMinutes(TIMESTAMP '2026-08-12 09:22:42')
          = TIMESTAMP '2026-08-12 09:15:00' AS m,
        toStartOfTenMinutes(TIMESTAMP '2026-08-12 09:22:42')
          = TIMESTAMP '2026-08-12 09:20:00' AS m2,
        today() = current_date() AND yesterday() = date_add(current_date(), -1) AS m3,
        fromUnixTimestamp(0) = TIMESTAMP '1970-01-01 00:00:00' AS m4,
        intDivOrZero(7, 2) = 3 AND intDivOrZero(7, 0) = 0 AS m5,
        moduloOrZero(7, 4) = 3 AND moduloOrZero(7, 0) = 0 AS m6,
        tuple(1, 'x') = struct(1, 'x') AS n,
        arrayZip(array(1, 2), array('a', 'b'))
          = array(struct(1, 'a'), struct(2, 'b')) AS o,
        arrayElement(array(10, 20, 30), 2) = 20 AS p,
        range(3) = array(0L, 1L, 2L) AND size(range(0)) = 0 AS q,
        arrayWithConstant(3, 'z') = array('z', 'z', 'z') AS r,
        mapFromArrays(array('k'), array(1))['k'] = 1 AS s""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("arrayReduce, URL family, tokens/ngrams, replace family") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        arrayReduce('sum', array(1, 2, 3)) = 6 AS a,
        arrayReduce('min', array(3, 1, 2)) = 1
          AND arrayReduce('max', array(3, 1, 2)) = 3 AS b,
        arrayReduce('avg', array(2, 4)) = 3.0 AS c,
        arrayReduce('count', array(1, 1, 2)) = 3
          AND arrayReduce('uniqExact', array(1, 1, 2)) = 2 AS d,
        domain('https://example.com/a/b?q=1#f') = 'example.com' AS e,
        path('https://example.com/a/b?q=1') = '/a/b' AS f,
        queryString('https://example.com/a?q=1&r=2') = 'q=1&r=2' AS g,
        fragment('https://example.com/a#sec') = 'sec' AS h,
        topLevelDomain('https://www.example.co') = 'co' AS i,
        cutQueryString('https://e.com/a?q=1') = 'https://e.com/a' AS j,
        tokens('Hello, world! 42') = array('Hello', 'world', '42') AS k,
        ngrams('abcd', 2) = array('ab', 'bc', 'cd')
          AND size(ngrams('ab', 3)) = 0 AS l,
        replaceAll('a-b-c', '-', '+') = 'a+b+c' AS m,
        replaceRegexpAll('a1b22c', '[0-9]+', '#') = 'a#b#c' AS n,
        extractAll('k=1, v=22', '[0-9]+', 0) = array('1', '22') AS o""")
      .collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
    val e = intercept[Exception] {
      Graft.sql(spark, "SELECT arrayReduce('median', array(1))").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("unsupported aggregate")),
      messages(e).mkString(" | "))
  }

  test("CH lambda-first higher-order spellings reorder onto Spark builtins") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        arrayMap(x -> x * 2, array(1, 2, 3)) = array(2, 4, 6) AS a,
        arrayFilter(x -> x > 1, array(1, 2, 3)) = array(2, 3) AS b,
        arrayExists(x -> x = 2, array(1, 2, 3))
          AND NOT arrayExists(x -> x = 9, array(1, 2, 3)) AS c,
        arrayAll(x -> x > 0, array(1, 2, 3))
          AND NOT arrayAll(x -> x > 1, array(1, 2, 3)) AS d,
        arrayCount(x -> x % 2 = 0, array(1, 2, 3, 4)) = 2 AS e,
        arraySum(array(1, 2, 3)) = 6 AND arraySum(array()) = 0 AS f,
        arraySum(array(1.5D, 2.5D)) = 4.0D AS g,
        arrayAvg(array(2, 4)) = 3.0 AS h,
        countEqual(array(1, 2, 2, 3), 2) = 2 AS i,
        arrayStringConcat(array('a', 'b')) = 'ab'
          AND arrayStringConcat(array('a', 'b'), '-') = 'a-b' AS j""")
      .collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("higher-order array macros: cumSum, difference, compact") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        arrayCumSum(array(1, 2, 3)) = array(1, 3, 6) AS a,
        arrayCumSum(array(1.5D, 0.5D)) = array(1.5D, 2.0D) AS b,
        size(arrayCumSum(array())) = 0 AS c,
        arrayDifference(array(1, 4, 9)) = array(0, 3, 5) AS d,
        arrayDifference(array(5.0D)) = array(0.0D) AS e,
        arrayCompact(array(1, 1, 2, 2, 2, 1)) = array(1, 2, 1) AS f,
        arrayCompact(array('x', 'x')) = array('x') AS g,
        anyIf(n_nationkey, n_regionkey = 1) IS NOT NULL AS h
      FROM nation LIMIT 1""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("formatDateTime rejects drift-prone and unknown codes") {
    Graft.init(spark, "/root/testdata/sf0.001")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] {
      Graft.sql(spark, "SELECT formatDateTime(now(), '%M')").collect()
    }
    assert(messages(e).exists(_.contains("unsupported code")), messages(e).mkString(" | "))
    val e2 = intercept[Exception] {
      Graft.sql(spark, "SELECT dateDiff('week', DATE '2026-01-01', DATE '2026-02-01')").collect()
    }
    assert(messages(e2).exists(_.contains("unsupported unit")), messages(e2).mkString(" | "))
  }

  test("splitByChar/splitByString treat separators literally, not as regex") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark,
      "SELECT splitByChar('.', 'a.b.c') AS p, splitByString('||', 'x||y') AS q")
      .collect().head
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getSeq[String](1) == Seq("x", "y"))
  }

  test("multiIf rejects even arity with a clear message") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val e = intercept[Exception] {
      Graft.sql(spark, "SELECT multiIf(true, 1, false, 2)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("multiIf")), messages(e).mkString(" | "))
  }

  test("clause routing: verbatim CH text equals the operator form") {
    Graft.init(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.DataFrame
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq

    // LIMIT n BY → LimitByPlan; equals the window form
    val viaText = Graft.sql(spark, """
      SELECT p_brand, p_partkey, p_retailprice FROM part
      ORDER BY p_brand ASC, p_retailprice DESC, p_partkey ASC
      LIMIT 3 BY p_brand""")
    val viaOp = graft.ops.Relational.limitBy(
      Tables(spark, "/root/testdata/sf0.001", "part"), Seq("p_brand"), 3,
      Seq(org.apache.spark.sql.functions.col("p_retailprice").desc,
        org.apache.spark.sql.functions.col("p_partkey").asc))
      .select("p_brand", "p_partkey", "p_retailprice")
    assert(canon(viaText) == canon(viaOp))

    // SAMPLE f → the mh60 threshold predicate, bit-identical
    val sText = Graft.sql(spark,
      "SELECT count(*) AS n FROM lineitem SAMPLE 0.1")
      .collect().head.getLong(0)
    val sPred = Graft.sql(spark, """
      SELECT count(*) AS n FROM lineitem
      WHERE CAST(conv(substring(md5(concat('smp|', CAST(l_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT)
              % 1000000 < 100000""").collect().head.getLong(0)
    assert(sText == sPred && sText > 0 && sText < 6000)
    // and the 1/10 spelling is the same fraction
    assert(Graft.sql(spark, "SELECT count(*) AS n FROM lineitem SAMPLE 1/10")
      .collect().head.getLong(0) == sText)

    // WITH TOTALS → GROUPING SETS: group rows + one all-NULL row
    val tot = Graft.sql(spark, """
      SELECT n_regionkey, count(*) AS c FROM nation
      GROUP BY n_regionkey WITH TOTALS ORDER BY n_regionkey""").collect()
    assert(tot.length == 6)
    assert(tot.count(_.isNullAt(0)) == 1)
    assert(tot.filter(_.isNullAt(0)).head.getLong(1) == 25L)

    // bare WITH FILL on a DATE axis → withFillDays (calendar fill,
    // zero default for the count)
    val fill = Graft.sql(spark, """
      SELECT toStartOfDay(CAST(o_orderdate AS DATE)) AS day, count(*) AS n
      FROM orders WHERE o_orderkey % 1000 = 1
      GROUP BY day ORDER BY day WITH FILL""")
    val days = fill.collect()
    assert(days.length > 2)
    // contiguous daily axis: every consecutive gap is exactly 1 day
    val ms = days.map(_.getTimestamp(0).getTime)
    assert(ms.sliding(2).forall(p => p(1) - p(0) == 86400000L))
    assert(days.exists(_.getLong(1) == 0L)) // filled gap rows present
  }

  test("ARRAY JOIN / PREWHERE / GLOBAL IN / FORMAT spellings route correctly") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // LEFT ARRAY JOIN keeps rows with empty arrays (explode_outer)
    val left = Graft.sql(spark, """
      SELECT n_nationkey, x
      FROM nation
      LEFT ARRAY JOIN filter(array(5, 10), v -> v > n_nationkey) AS x
      WHERE n_nationkey >= 9 AND n_nationkey <= 11
      ORDER BY n_nationkey, x""").collect()
    // key 9 → [10], key 10/11 → [] but the row survives with NULL
    assert(left.length == 3)
    assert(left.count(_.isNullAt(1)) == 2)

    // GLOBAL IN strips; FORMAT clause drops
    val g = Graft.sql(spark, """
      SELECT count(*) AS n FROM nation
      WHERE n_regionkey GLOBAL IN (SELECT r_regionkey FROM region WHERE r_regionkey < 2)
      FORMAT Pretty""").collect()
    assert(g.head.getLong(0) == 10L)

    // ANY JOIN with unqualified ON conds can't route — loud failure
    // with guidance (the routable spelling is qualified a.x = b.y)
    val e = intercept[IllegalArgumentException] {
      Graft.sql(spark,
        "SELECT 1 FROM nation ANY LEFT JOIN region ON n_regionkey = r_regionkey")
    }
    assert(e.getMessage.contains("qualified"))
  }

  test("ASOF/ANY JOIN text routes onto ops.Joins (operator-equal)") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val ev = spark.table("events")

    // ASOF LEFT JOIN text ≡ Joins.asofJoin
    val txt = Graft.sql(spark, """
      SELECT l.user_id, l.event_id, r.ts AS p_ts, r.value AS p_value
      FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') l
      ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                      WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY l.user_id, l.event_id""")
    assert(txt.columns.toSeq == Seq("user_id", "event_id", "p_ts", "p_value"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val op = graft.ops.Joins.asofJoin(errors, purchases, Seq("user_id"),
        "ts", "ts", Seq("ts", "value"))
      .select(col("user_id"), col("event_id"), col("asof_ts").as("p_ts"),
        col("asof_value").as("p_value"))
      .orderBy(col("user_id"), col("event_id"))
    assert(txt.collect().toSeq == op.collect().toSeq)

    // bare ASOF JOIN is INNER: unmatched left rows drop
    val inner = Graft.sql(spark, """
      SELECT l.user_id, l.event_id
      FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') l
      ASOF JOIN (SELECT user_id, ts, value FROM events
                 WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY l.user_id, l.event_id""")
    val matchedOnly = op.filter(col("p_ts").isNotNull).count()
    assert(inner.count() == matchedOnly && matchedOnly < op.count())

    // LEFT ANY JOIN text ≡ Joins.anyJoin with the pinned first-by
    // ordering (remaining right columns ascending)
    val anyTxt = Graft.sql(spark, """
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c
      LEFT ANY JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders) o
        ON c.c_custkey = o.o_custkey
      ORDER BY c.c_custkey""")
    val anyOp = graft.ops.Joins.anyJoin(
        spark.table("customer"),
        spark.table("orders")
          .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
            col("o_totalprice")),
        Seq("c_custkey"), Seq(col("o_orderkey").asc, col("o_totalprice").asc))
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"))
    assert(anyTxt.collect().toSeq == anyOp.collect().toSeq)

    // all four ASOF inequality directions route (r7); the text form
    // must equal the operator called with the same op
    val strictTxt = Graft.sql(spark, """
      SELECT l.user_id, l.event_id, r.ts AS purch_ts FROM
      (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') l
      ASOF LEFT JOIN (SELECT user_id, ts FROM events
                      WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts > r.ts
      ORDER BY l.user_id, l.event_id""")
    val strictOp = graft.ops.Joins.asofJoin(
        spark.table("events").filter(col("event_type") === "error")
          .select("user_id", "ts", "event_id"),
        spark.table("events").filter(col("event_type") === "purchase")
          .select("user_id", "ts"),
        Seq("user_id"), "ts", "ts", Seq("ts"), op = ">")
      .select(col("user_id"), col("event_id"), col("asof_ts").as("purch_ts"))
      .orderBy(col("user_id"), col("event_id"))
    assert(strictTxt.collect().toSeq == strictOp.collect().toSeq)

    // RIGHT/FULL ASOF strictness still fails loudly
    val right = intercept[IllegalArgumentException] {
      Graft.sql(spark, """
        SELECT l.event_id FROM
        (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') l
        ASOF RIGHT JOIN (SELECT user_id, ts FROM events
                         WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id AND l.ts >= r.ts""")
    }
    assert(right.getMessage.contains("not routable"))
  }

  test("IPv4 family: known answers and roundtrip") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT IPv4NumToString(3232235777) AS a,
             IPv4StringToNum('192.168.1.1') AS b,
             isIPv4String('192.168.1.1') AS c,
             isIPv4String('256.1.1.1') AS d,
             isIPv4String('not.an.ip') AS e,
             IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16).lo AS lo,
             IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16).hi AS hi,
             IPv4NumToString(IPv4StringToNum('10.0.255.3')) AS rt""").collect().head
    assert(r.getString(0) == "192.168.1.1")
    assert(r.getLong(1) == 3232235777L)
    assert(r.getBoolean(2) && !r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getString(5) == "192.168.0.0" && r.getString(6) == "192.168.255.255")
    assert(r.getString(7) == "10.0.255.3")
  }

  test("CREATE FUNCTION registers a codegen macro; DROP removes; EXPLAIN rows") {
    Graft.init(spark, "/root/testdata/sf0.001")

    // CH's doc example: CREATE FUNCTION linear_equation AS (x,k,b) -> k*x+b
    Graft.sql(spark,
      "CREATE FUNCTION linear_equation AS (x, k, b) -> k * x + b")
    val r = Graft.sql(spark, """
      SELECT n_nationkey, linear_equation(n_nationkey, 2, 1) AS y
      FROM nation ORDER BY n_nationkey LIMIT 3""").collect()
    assert(r.map(_.getInt(1)).toSeq == Seq(1, 3, 5))

    // single-parameter arrow form, non-parameter identifiers resolve
    // as columns at the call site
    Graft.sql(spark, "CREATE FUNCTION double_it AS x -> x * 2")
    val r2 = Graft.sql(spark,
      "SELECT double_it(n_nationkey) AS d FROM nation WHERE n_nationkey = 7")
      .collect()
    assert(r2.head.getInt(0) == 14)

    Graft.sql(spark, "DROP FUNCTION double_it")
    assertThrows[Exception] {
      Graft.sql(spark, "SELECT double_it(1)").collect()
    }

    // EXPLAIN kinds return plan rows; PIPELINE is the physical plan
    val plan = Graft.sql(spark,
      "EXPLAIN PIPELINE SELECT count(*) FROM nation").collect()
    assert(plan.nonEmpty &&
      plan.exists(_.getString(0).contains("HashAggregate")))
    val opt = Graft.sql(spark, """
      EXPLAIN SELECT l_returnflag, l_quantity FROM lineitem
      ORDER BY l_quantity LIMIT 2 BY l_returnflag""").collect()
    // the routed query explains through the custom LIMIT BY node path
    assert(opt.nonEmpty)
  }

  test("CREATE FUNCTION with a malformed body fails at CREATE, not at its first call") {
    Graft.init(spark, "/root/testdata/sf0.001")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      Graft.sql(spark, "CREATE FUNCTION bad_body AS x -> x +")
    }
    // nothing was registered under the name
    assert(!spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("bad_body")))
  }

  test("scalar WITH substitutes; CTE WITH passes through; routed ordinals resolve") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // scalar aliases in both WHERE and SELECT
    val r = Graft.sql(spark, """
      WITH 2 AS cut SELECT n_nationkey, cut AS c FROM nation
      WHERE n_nationkey < cut ORDER BY n_nationkey""").collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq == Seq((0, 2), (1, 2)))
    // a true CTE is untouched and still works
    val cte = Graft.sql(spark, """
      WITH big AS (SELECT n_nationkey FROM nation WHERE n_nationkey > 20)
      SELECT count(*) AS n FROM big""").collect()
    assert(cte.head.getLong(0) == 4L)
    // ORDER BY ordinal through the ROUTED path (LIMIT BY present)
    val routed = Graft.sql(spark, """
      SELECT p_brand, p_partkey FROM part
      ORDER BY 1 ASC, 2 DESC
      LIMIT 1 BY p_brand""").collect()
    val viaNames = Graft.sql(spark, """
      SELECT p_brand, p_partkey FROM part
      ORDER BY p_brand ASC, p_partkey DESC
      LIMIT 1 BY p_brand""").collect()
    assert(routed.map(_.toString).sorted.toSeq ==
      viaNames.map(_.toString).sorted.toSeq)
    assert(routed.nonEmpty)
  }

  test("bar/formatReadable display helpers and sumCount") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        bar(5.0, 0.0, 10.0, 10) = repeat('█', 5) AS a,
        bar(-1.0, 0.0, 10.0, 10) = '' AS b,
        -- CH prints two decimals ("1.50 KiB") — the DECIMAL scale from
        -- round(x, 2) reproduces that exactly
        formatReadableSize(1536) = '1.50 KiB' AS c,
        formatReadableSize(3221225472) = '3.00 GiB' AS d,
        formatReadableSize(512) = '512 B' AS e,
        formatReadableQuantity(1500000) = '1.50 million' AS f,
        formatReadableQuantity(42) = '42' AS g""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
    val sc = Graft.sql(spark,
      "SELECT sumCount(n_nationkey) AS s FROM nation").collect().head
      .getStruct(0)
    assert(sc.getLong(0) == 300L && sc.getLong(1) == 25L)
  }

  test("TRUNCATE and OPTIMIZE statements route to snapshots") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // OPTIMIZE compacts without changing rows
    val before = Graft.sql(spark, "SELECT count(*) AS n FROM region")
      .collect().head.getLong(0)
    val opt = Graft.sql(spark, "OPTIMIZE TABLE region")
    assert(opt.count() == before)
    assert(opt.rdd.getNumPartitions == 1)
    // FINAL without key metadata is a loud failure, not a silent skip
    val e = intercept[IllegalArgumentException](
      Graft.sql(spark, "OPTIMIZE TABLE region FINAL"))
    assert(e.getMessage.contains("replacingLatest"))
    // TRUNCATE empties the view, base untouched
    assert(Graft.sql(spark, "TRUNCATE TABLE region").count() == 0)
    assert(Graft.sql(spark, "SELECT count(*) AS n FROM region")
      .collect().head.getLong(0) == 0)
    assert(Tables(spark, "/root/testdata/sf0.001", "region").count() == before)
    Graft.init(spark, "/root/testdata/sf0.001") // restore views
  }

  test("INSERT INTO SELECT/VALUES appends as copy-on-write snapshots") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val before = Graft.sql(spark, "SELECT count(*) AS n FROM region")
      .collect().head.getLong(0)
    // VALUES form: positional, adopts the target's column names
    val afterValues = Graft.sql(spark,
      "INSERT INTO region VALUES (90, 'NEWLAND'), (91, 'OTHERLAND')")
    assert(afterValues.count() == before + 2)
    // SELECT form: self-append doubles the originals (runs through the
    // full front door, so dialect spellings work in the body)
    val afterSelect = Graft.sql(spark,
      "INSERT INTO region SELECT r_regionkey + 100 AS r_regionkey, upperUTF8(r_name) AS r_name FROM region WHERE r_regionkey < 2")
    assert(afterSelect.count() == before + 4)
    assert(Graft.sql(spark,
      "SELECT count(*) AS n FROM region WHERE r_regionkey >= 90")
      .collect().head.getLong(0) == 4) // 90, 91, 100, 101
    // base fixture untouched
    assert(Tables(spark, "/root/testdata/sf0.001", "region").count() == before)
    Graft.init(spark, "/root/testdata/sf0.001") // restore views
  }

  test("ALTER TABLE DELETE/UPDATE text routes to copy-on-write mutations") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val before = Graft.sql(spark, "SELECT count(*) AS n FROM region")
      .collect().head.getLong(0)
    val afterDelete = Graft.sql(spark,
      "ALTER TABLE region DELETE WHERE r_regionkey >= 3")
    assert(afterDelete.count() == before - 2)
    // the view now points at the snapshot
    assert(Graft.sql(spark, "SELECT count(*) AS n FROM region")
      .collect().head.getLong(0) == before - 2)
    val updated = Graft.sql(spark,
      "ALTER TABLE region UPDATE r_name = concat(r_name, '!') WHERE r_regionkey = 0")
    assert(updated.filter("r_regionkey = 0").collect().head
      .getAs[String]("r_name").endsWith("!"))
    // the BASE fixture is untouched (copy-on-write)
    assert(Tables(spark, "/root/testdata/sf0.001", "region").count() == before)
    Graft.init(spark, "/root/testdata/sf0.001") // restore views
  }

  test("comma limit rewrites to OFFSET in the un-routed path") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val viaComma = Graft.sql(spark,
      "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 3, 4").collect()
    val viaAnsi = Graft.sql(spark,
      "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 4 OFFSET 3").collect()
    assert(viaComma.map(_.getInt(0)).toSeq == Seq(3, 4, 5, 6))
    assert(viaComma.map(_.getInt(0)).toSeq == viaAnsi.map(_.getInt(0)).toSeq)
  }

  test("clause routing fails loudly outside its documented scope") {
    Graft.init(spark, "/root/testdata/sf0.001")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // LIMIT BY without ORDER BY is arbitrary-rows in CH; routed with a
    // deterministic all-projected-columns order instead of rejected
    val lb = Graft.sql(spark,
      "SELECT p_brand FROM part LIMIT 2 BY p_brand").collect()
    val lb2 = Graft.sql(spark,
      "SELECT p_brand FROM part LIMIT 2 BY p_brand").collect()
    assert(lb.nonEmpty && lb.map(_.getString(0)).toSeq ==
      lb2.map(_.getString(0)).toSeq)
    // expression sort keys can't be routed — rejected with guidance
    val e2 = intercept[Exception] {
      Graft.sql(spark,
        "SELECT p_brand FROM part ORDER BY length(p_brand) LIMIT 2 BY p_brand").collect()
    }
    assert(messages(e2).exists(_.contains("alias")), messages(e2).mkString(" | "))
    // SAMPLE on a table with no registered key — rejected
    val e3 = intercept[Exception] {
      Graft.sql(spark, "SELECT 1 FROM unknown_tbl SAMPLE 0.5").collect()
    }
    assert(messages(e3).exists(_.contains("sampling key")), messages(e3).mkString(" | "))
  }

  test("greatCircleDistance: CH argument order, ~111 km per degree of latitude") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val d = Graft.sql(spark,
      "SELECT greatCircleDistance(0.0D, 0.0D, 0.0D, 1.0D) AS m")
      .collect().head.getDouble(0)
    assert(math.abs(d - 111195.0) < 100.0, s"got $d")
  }

  test("FROM t FINAL applies the registered engine collapse; unregistered fails") {
    import spark.implicits._
    Seq((1L, 1, "a"), (1L, 2, "b"), (2L, 1, "c")).toDF("k", "ver", "v")
      .createOrReplaceTempView("fin_t")
    intercept[IllegalArgumentException] {
      Graft.sql(spark, "SELECT * FROM fin_t FINAL")
    }
    ChSql.registerFinal(spark, "fin_t", df =>
      graft.ops.Relational.replacingLatest(df, Seq("k"), Seq(col("ver"))))
    val rows = Graft.sql(spark,
      "SELECT k, v FROM fin_t FINAL ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "b"), (2L, "c")))
    // TOP n spelling rewrites to LIMIT through the same front door
    val top = Graft.sql(spark,
      "SELECT TOP 1 k FROM fin_t FINAL ORDER BY k DESC")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(2L))
  }

  test("star modifiers: * REPLACE / * APPLY / COLUMNS('re') / native * EXCEPT") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val rep = Graft.sql(spark,
      "SELECT * REPLACE (n_nationkey * 100 AS n_nationkey) FROM nation ORDER BY n_nationkey LIMIT 1")
    assert(rep.columns.toSeq ==
      spark.table("nation").columns.toSeq)
    assert(rep.collect().head.getAs[Number](
      rep.columns.indexOf("n_nationkey")).longValue() == 0L)
    val app = Graft.sql(spark,
      "SELECT * APPLY (max) FROM region")
    assert(app.columns.forall(_.startsWith("max(")))
    val cols = Graft.sql(spark,
      "SELECT COLUMNS('r_.*') FROM region LIMIT 1")
    assert(cols.columns.toSeq == spark.table("region").columns.toSeq)
    val exc = Graft.sql(spark,
      "SELECT * EXCEPT (n_name) FROM nation LIMIT 1")
    assert(!exc.columns.contains("n_name"))
    intercept[IllegalArgumentException] {
      Graft.sql(spark, "SELECT * REPLACE (1 AS no_such_col) FROM nation")
    }
  }

  test("SETTINGS clause peels; use_query_cache caches until SYSTEM DROP") {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .createOrReplaceTempView("qc_base")
    // unknown settings are accepted and ignored
    assert(Graft.sql(spark,
      "SELECT count(*) AS c FROM qc_base SETTINGS max_threads = 8")
      .collect().head.getLong(0) == 2L)
    val q = "SELECT CAST(sum(v) AS DOUBLE) AS sv FROM qc_base SETTINGS use_query_cache = 1"
    assert(Graft.sql(spark, q).collect().head.getDouble(0) == 30.0)
    // mutate the base; cached entry still serves the old answer…
    Graft.sql(spark, "INSERT INTO qc_base VALUES (CAST(3 AS BIGINT), 12.0)")
    assert(Graft.sql(spark, q).collect().head.getDouble(0) == 30.0)
    // …until the cache drops
    Graft.sql(spark, "SYSTEM DROP QUERY CACHE")
    assert(Graft.sql(spark, q).collect().head.getDouble(0) == 42.0)
  }

  test("SAMPLE OFFSET: disjoint windows partition the table") {
    Graft.init(spark, "/root/testdata/sf0.001")
    def ids(q: String): Set[Long] =
      Graft.sql(spark, q).collect().map(_.getLong(0)).toSet
    val a = ids("SELECT o_orderkey FROM orders SAMPLE 0.5")
    val b = ids("SELECT o_orderkey FROM orders SAMPLE 0.5 OFFSET 0.5")
    val all = ids("SELECT o_orderkey FROM orders")
    assert(a.intersect(b).isEmpty)
    assert(a.union(b) == all)
    intercept[IllegalArgumentException] {
      Graft.sql(spark, "SELECT count(*) AS c FROM orders SAMPLE 0.6 OFFSET 0.5")
    }
  }

  test("GROUP BY ALL / ORDER BY ALL pass through (CH spellings Spark owns)") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val df = Graft.sql(spark,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS c
         FROM orders GROUP BY ALL ORDER BY ALL""").collect()
    assert(df.length > 1)
    val pairs = df.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pairs == pairs.sorted)
  }

  test("MATERIALIZED VIEW: POPULATE, insert-triggered block appends, DROP") {
    import spark.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "k", "v")
      .createOrReplaceTempView("mv_base")
    Graft.sql(spark,
      """CREATE MATERIALIZED VIEW mv_sums POPULATE AS
         SELECT k, count(*) AS n, sum(v) AS sv FROM mv_base GROUP BY k""")
    assert(spark.table("mv_sums").count() == 2) // populated
    Graft.sql(spark,
      "INSERT INTO mv_base VALUES (CAST(3 AS BIGINT), 'a', 5.0), (CAST(4 AS BIGINT), 'a', 7.0)")
    // block-scoped trigger: ONE new partial row for the 'a' block
    assert(spark.table("mv_sums").filter($"k" === "a").count() == 2)
    // read-side re-aggregation (the AggregatingMergeTree contract)
    val tot = spark.table("mv_sums").groupBy($"k")
      .agg(org.apache.spark.sql.functions.sum($"n").as("n"),
        org.apache.spark.sql.functions.sum($"sv").as("sv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(tot("a") == ((3L, 14.0)) && tot("b") == ((1L, 3.0)))
    // base table itself saw the append too
    assert(spark.table("mv_base").count() == 4)
    Graft.sql(spark, "DROP TABLE mv_sums")
    assert(!spark.catalog.tableExists("mv_sums"))
    // dropping a non-MV fails loudly
    intercept[IllegalArgumentException] {
      Graft.sql(spark, "DROP TABLE mv_base")
    }
  }

  test("system tables: numbers(), system.numbers LIMIT, system.one, system.tables") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val n = Graft.sql(spark,
      "SELECT CAST(sum(number) AS BIGINT) AS s FROM numbers(1000)")
      .collect().head.getLong(0)
    assert(n == 499500L)
    // unbounded source, bounded by LIMIT (lazy range — must terminate)
    val lim = Graft.sql(spark,
      "SELECT number FROM system.numbers LIMIT 5").collect().map(_.getLong(0))
    assert(lim.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val one = Graft.sql(spark, "SELECT dummy FROM system.one").collect()
    assert(one.length == 1 && one.head.getByte(0) == 0)
    // catalog snapshot: the fixture views registered by init are listed
    val tbls = Graft.sql(spark,
      "SELECT name FROM system.tables WHERE is_temporary ORDER BY name")
      .collect().map(_.getString(0)).toSet
    assert(tbls.contains("lineitem") && tbls.contains("events"))
  }

  test("parametric aggregates: f(params)(args) text equals the library form") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // quantile/quantiles/uniqUpTo are pure text expansions
    val q = Graft.sql(spark, """
      SELECT quantileExact(0.5)(l_quantity) AS med,
             arrayElement(quantiles(0.25, 0.75)(l_quantity), 1) AS p25,
             uniqUpTo(3)(l_returnflag) AS flags_upto,
             uniqUpTo(1)(l_returnflag) AS flags_capped
      FROM lineitem""").collect().head
    val tw = spark.sql("""
      SELECT percentile(l_quantity, 0.5) AS med,
             percentile(l_quantity, 0.25) AS p25,
             count(DISTINCT l_returnflag) AS n
      FROM lineitem""").collect().head
    assert(q.getDouble(0) == tw.getDouble(0))
    assert(q.getDouble(1) == tw.getDouble(1))
    assert(q.getLong(2) == tw.getLong(2)) // 3 distinct ≤ 3+1 → exact
    assert(q.getLong(3) == 2L)            // capped at 1+1
    // value-based distinctness, not rendering-based: -0.0 = 0.0 in
    // SQL but the two render differently — must count as ONE
    val zz = Graft.sql(spark, """
      SELECT uniqUpTo(5)(v) AS u
      FROM (SELECT CAST(0.0 AS DOUBLE) AS v
            UNION ALL SELECT CAST(-0.0 AS DOUBLE)
            UNION ALL SELECT CAST(1.5 AS DOUBLE))""").collect().head
    assert(zz.getLong(0) == 2L)
    // histogram(n)(x): the on-demand UDAF is the same AdaptiveHistogram
    // Aggregator the library entry runs — bins must agree exactly
    import org.apache.spark.sql.functions.udaf
    val hText = Graft.sql(spark,
      "SELECT histogram(5)(l_extendedprice) AS h FROM lineitem")
      .selectExpr("explode(h) AS b").selectExpr("b.lower", "b.upper", "b.height")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val hAgg = udaf(new ops.Aggregates.AdaptiveHistogram(5))
    val hLib = spark.table("lineitem")
      .select(org.apache.spark.sql.functions.col("l_extendedprice").as("x"))
      .agg(hAgg(col("x")).as("h"))
      .selectExpr("explode(h) AS b").selectExpr("b.lower", "b.upper", "b.height")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(hText.toSeq == hLib.toSeq)
    // windowFunnel with a strict mode routes to WindowFunnelModes —
    // equal to the library aggregation on the same step conditions
    val fText = Graft.sql(spark, """
      SELECT user_id,
             windowFunnel(604800, 'strict_increase')(ts,
               event_type = 'view', event_type = 'click',
               event_type = 'purchase') AS d
      FROM events GROUP BY user_id ORDER BY user_id""").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val wf = udaf(new ops.Aggregates.CondsAdapter(
      new ops.Aggregates.WindowFunnelModes(604800000000L, 3,
        strictIncrease = true), 3))
    val fLib = spark.table("events")
      .selectExpr("user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "array(event_type = 'view', event_type = 'click', event_type = 'purchase') AS cs")
      .groupBy("user_id").agg(wf(col("us"), col("cs")).as("d"))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(fText.toSeq == fLib.toSeq)
    // sequenceCount through the pattern DSL: at least parses + runs,
    // and the skip form can never undercount the adjacent form
    val sc = Graft.sql(spark, """
      SELECT CAST(sum(c2) AS BIGINT) >= CAST(sum(c1) AS BIGINT) AS ok FROM (
        SELECT sequenceCount('(?1)(?2)')(ts, event_type = 'view',
                 event_type = 'purchase') AS c1,
               sequenceCount('(?1).*(?2)')(ts, event_type = 'view',
                 event_type = 'purchase') AS c2
        FROM events GROUP BY user_id)""").collect().head
    assert(sc.getBoolean(0))
    // loud failures: non-literal/malformed parameters
    intercept[IllegalArgumentException] {
      Graft.sql(spark, "SELECT topK(x)(l_returnflag) FROM lineitem")
    }
    intercept[IllegalArgumentException] {
      Graft.sql(spark,
        "SELECT windowFunnel(10, 'bogus_mode')(ts, event_type = 'view') FROM events")
    }
    // a plain one-group call is NOT the parametric form — untouched
    val plain = spark.sql("SELECT percentile(l_quantity, 0.5) AS p FROM lineitem")
      .collect().head.getDouble(0)
    assert(plain == q.getDouble(0))
  }

  test("dialect batch: finiteness, exponents, intervals, age, dateName") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        isFinite(1.5) AND NOT isFinite(CAST('Infinity' AS DOUBLE))
          AND NOT isFinite(CAST('NaN' AS DOUBLE)) AS a,
        isInfinite(CAST('-Infinity' AS DOUBLE)) AND NOT isInfinite(2.0) AS b,
        ifNotFinite(CAST('NaN' AS DOUBLE), 42.0) = 42.0
          AND ifNotFinite(7.0, 42.0) = 7.0 AS c,
        assumeNotNull(5) = 5 AND toNullable(5) = 5 AS d,
        toTypeName(CAST(1.5 AS DOUBLE)) = 'double'
          AND toTypeName('x') = 'string' AS e,
        exp2(10) = 1024.0 AND exp10(3) = 1000.0 AS f,
        substringIndex('a.b.c', '.', 2) = 'a.b' AS g,
        concatWithSeparator('-', 'x', 'y') = 'x-y' AS h,
        translateUTF8('abc', 'ab', 'xy') = 'xyc' AS i,
        -- complete-units semantics: one day short of a month → 0
        age('month', CAST('2024-01-15' AS TIMESTAMP),
                     CAST('2024-02-14' AS TIMESTAMP)) = 0 AND
        age('month', CAST('2024-01-15' AS TIMESTAMP),
                     CAST('2024-02-15' AS TIMESTAMP)) = 1 AS j,
        -- vs boundary-crossing dateDiff: same pair crosses 1 boundary
        dateDiff('month', CAST('2024-01-15' AS TIMESTAMP),
                          CAST('2024-02-14' AS TIMESTAMP)) = 1 AS k,
        dateName('month', CAST('2024-04-09' AS DATE)) = 'April' AND
        dateName('weekday', CAST('2024-04-09' AS DATE)) = 'Tuesday' AND
        dateName('year', CAST('2024-04-09' AS DATE)) = '2024' AS l,
        -- month-stride interval truncation (day/time strides are
        -- oracle-checked in sql_ch_dialect_batch)
        toStartOfInterval(CAST('2024-05-20' AS TIMESTAMP), INTERVAL 2 MONTH)
          = CAST('2024-05-01' AS DATE) AS m,
        toStartOfInterval(CAST('2024-05-20 13:47:00' AS TIMESTAMP), INTERVAL 1 DAY)
          = CAST('2024-05-20 00:00:00' AS TIMESTAMP) AS n,
        match('hello123', '^[a-z]+[0-9]+$') AND NOT match('x', '^y') AS o
      FROM system.one""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
    // loud failures on out-of-scope units
    intercept[Exception] {
      Graft.sql(spark, "SELECT age('fortnight', now(), now()) FROM system.one").collect()
    }
    intercept[Exception] {
      Graft.sql(spark, "SELECT dateName('era', now()) FROM system.one").collect()
    }
  }

  test("transform arity dispatch, arrayFold, arrayFirstIndex, arrayJoin") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        -- CH 4-arg value remapper with default
        transform(2, array(1, 2, 3), array(10, 20, 30), -1) = 20 AS a,
        transform(9, array(1, 2, 3), array(10, 20, 30), -1) = -1 AS b,
        -- CH 3-arg form: unmapped values pass through
        transform(9, array(1, 2), array(10, 20)) = 9 AS c,
        -- Spark's 2-arg higher-order form still resolves
        transform(array(1, 2, 3), x -> x * 2) = array(2, 4, 6) AS d,
        arrayFold((acc, x) -> acc + x, array(1, 2, 3), CAST(10 AS BIGINT)) = 16 AS e,
        arrayFirstIndex(x -> x > 25, array(10, 20, 30, 40)) = 3 AS f,
        arrayFirstIndex(x -> x > 99, array(10, 20)) = 0 AS g,
        quantileTiming(0.5)(x) = 2.0 AS h
      FROM (SELECT explode(array(1.0, 2.0, 3.0)) AS x)""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
    // arrayJoin explodes rows like CH's function form
    val n = Graft.sql(spark,
      "SELECT arrayJoin(array(1, 2, 3)) AS v FROM system.one").count()
    assert(n == 3)
  }

  test("system.columns, toDecimal/toUInt casts, random spellings") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val cols = Graft.sql(spark, """
      SELECT name, type, position FROM system.columns
      WHERE table = 'nation' ORDER BY position""").collect()
    assert(cols.map(_.getString(0)).toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(cols.head.getInt(2) == 1)
    val r = Graft.sql(spark, """
      SELECT
        toDecimal64(3.14159, 2) = CAST(3.14 AS DECIMAL(18,2)) AS a,
        toTypeName(toDecimal32(1.5, 1)) = 'decimal(9,1)' AS b,
        toUInt32(200) = 200 AND toTypeName(toUInt32(5)) = 'bigint' AS c,
        length(generateUUIDv4()) = 36 AS d,
        randCanonical() >= 0.0 AND randCanonical() < 1.0 AS e,
        abs(randNormal(0, 1)) < 100.0 AS f
      FROM system.one""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
    intercept[Exception] {
      Graft.sql(spark, "SELECT toDecimal32(1.5, 20) FROM system.one").collect()
    }
  }

  test("ALTER TABLE ADD/DROP/MODIFY/RENAME COLUMN snapshot semantics") {
    Graft.init(spark, "/root/testdata/sf0.001")
    try {
      // ADD with DEFAULT expr; type default when absent
      Graft.sql(spark,
        "ALTER TABLE region ADD COLUMN head_nation Int64 DEFAULT r_regionkey * 5")
      Graft.sql(spark, "ALTER TABLE region ADD COLUMN note String")
      val r1 = spark.table("region").orderBy("r_regionkey").collect()
      assert(r1.head.getAs[Long]("head_nation") == 0L &&
        r1(2).getAs[Long]("head_nation") == 10L)
      assert(r1.forall(_.getAs[String]("note") == ""))
      // MODIFY casts in place; RENAME renames; DROP removes
      Graft.sql(spark, "ALTER TABLE region MODIFY COLUMN head_nation Float64")
      assert(spark.table("region").schema("head_nation").dataType ==
        org.apache.spark.sql.types.DoubleType)
      Graft.sql(spark, "ALTER TABLE region RENAME COLUMN note TO comment2")
      assert(spark.table("region").columns.contains("comment2"))
      Graft.sql(spark, "ALTER TABLE region DROP COLUMN comment2")
      Graft.sql(spark, "ALTER TABLE region DROP COLUMN head_nation")
      assert(!spark.table("region").columns.contains("head_nation"))
      // guards: dup add, missing drop; IF EXISTS variants pass
      intercept[Exception] {
        Graft.sql(spark, "ALTER TABLE region ADD COLUMN r_name String")
      }
      intercept[Exception] {
        Graft.sql(spark, "ALTER TABLE region DROP COLUMN nope")
      }
      Graft.sql(spark, "ALTER TABLE region ADD COLUMN IF NOT EXISTS r_name String")
      Graft.sql(spark, "ALTER TABLE region DROP COLUMN IF EXISTS nope")
      assert(spark.table("region").columns.sameElements(
        Seq("r_regionkey", "r_name")))
    } finally Graft.init(spark, "/root/testdata/sf0.001") // restore views
  }

  test("CREATE TABLE ENGINE=... AS SELECT wires FINAL, SAMPLE BY, DROP") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // ReplacingMergeTree: FINAL dedups to the latest version per key
    Graft.sql(spark, """
      CREATE TABLE cust_versions ENGINE = ReplacingMergeTree(ver)
      ORDER BY (c_custkey) SAMPLE BY c_custkey AS
      SELECT c_custkey, c_name, 1 AS ver FROM customer
      UNION ALL
      SELECT c_custkey, upper(c_name) AS c_name, 2 AS ver
      FROM customer WHERE c_custkey % 2 = 0""")
    val total = spark.table("cust_versions").count()
    val fin = Graft.sql(spark,
      "SELECT c_custkey, c_name FROM cust_versions FINAL ORDER BY c_custkey")
    val finRows = fin.collect()
    val nCust = spark.table("customer").count()
    assert(finRows.length == nCust && total > nCust)
    assert(finRows.filter(_.getLong(0) % 2 == 0)
      .forall(r => r.getString(1) == r.getString(1).toUpperCase))
    // SAMPLE BY key registered: SAMPLE 0.5 routes (deterministic subset)
    val half = Graft.sql(spark,
      "SELECT count(*) AS n FROM cust_versions SAMPLE 0.5").collect().head.getLong(0)
    assert(half > 0 && half < total)
    // Summing engine: FINAL sums numeric non-keys, drops the rest
    Graft.sql(spark, """
      CREATE TABLE nat_sums ENGINE = SummingMergeTree ORDER BY (n_regionkey)
      AS SELECT n_regionkey, n_nationkey FROM nation""")
    val sums = Graft.sql(spark,
      "SELECT * FROM nat_sums FINAL ORDER BY n_regionkey").collect()
    assert(sums.length == 5 && sums.map(_.getLong(1)).sum == (0 until 25).sum)
    // DROP TABLE cleans registries; FINAL on the dropped name fails
    Graft.sql(spark, "DROP TABLE cust_versions")
    Graft.sql(spark, "DROP TABLE nat_sums")
    intercept[Exception] {
      Graft.sql(spark, "SELECT * FROM cust_versions FINAL").collect()
    }
    // engine guards: Replacing without version, unknown engine
    intercept[Exception] {
      Graft.sql(spark, """CREATE TABLE x ENGINE = ReplacingMergeTree
        ORDER BY (c_custkey) AS SELECT c_custkey FROM customer""")
    }
    intercept[Exception] {
      Graft.sql(spark, """CREATE TABLE x ENGINE = Kafka AS
        SELECT c_custkey FROM customer""")
    }
    // Log/Memory are accepted non-merging engines: plain snapshot, no FINAL
    Graft.sql(spark, """CREATE TABLE log_snap ENGINE = Log AS
      SELECT c_custkey FROM customer""")
    assert(Graft.sql(spark, "SELECT count(*) AS c FROM log_snap")
      .head.getLong(0) > 0)
    Graft.sql(spark, "DROP TABLE log_snap")
  }

  test("CTAS TTL clause, uniqCombined precision, parametric+clause composition") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // TTL composes in front of the engine collapse at FINAL time
    Graft.sql(spark, """
      CREATE TABLE recent_orders ENGINE = MergeTree
      ORDER BY (o_orderkey) TTL o_orderdate + INTERVAL 365 DAY AS
      SELECT o_orderkey, o_orderdate FROM orders""")
    val all = spark.table("recent_orders").count()
    val kept = Graft.sql(spark,
      "SELECT count(*) AS n FROM recent_orders FINAL").collect().head.getLong(0)
    val expect = spark.sql("""
      SELECT count(*) FROM recent_orders
      WHERE o_orderdate > (SELECT max(o_orderdate) FROM recent_orders)
                          - INTERVAL 365 DAY""").collect().head.getLong(0)
    assert(kept == expect && kept < all)
    Graft.sql(spark, "DROP TABLE recent_orders")
    // uniqCombined(p)(x): tight precision lands within ~3 rsd of exact
    val Array(est, exact) = Graft.sql(spark, """
      SELECT uniqCombined(14)(o_custkey) AS est,
             uniqExact(o_custkey) AS exact
      FROM orders""").collect().head.toSeq.map(_.toString.toLong).toArray
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"$est vs $exact")
    // parametric call inside a clause-routed query (LIMIT n BY):
    // both rewrites compose on the same text
    val routed = Graft.sql(spark, """
      SELECT o_orderpriority, o_orderstatus,
             round(quantileExact(0.5)(o_totalprice), 4) AS med
      FROM orders
      GROUP BY o_orderpriority, o_orderstatus
      ORDER BY o_orderpriority ASC, med DESC
      LIMIT 1 BY o_orderpriority""").collect()
    assert(routed.length == 5) // one row per priority
    val twin = spark.sql("""
      SELECT o_orderpriority, max(med) AS med FROM (
        SELECT o_orderpriority, o_orderstatus,
               round(percentile(o_totalprice, 0.5), 4) AS med
        FROM orders GROUP BY o_orderpriority, o_orderstatus)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""").collect()
    assert(routed.map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      twin.map(r => (r.getString(0), r.getDouble(1))).toSeq)
  }

  test("CREATE VIEW, EXISTS TABLE, RENAME TABLE") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // logical view: re-plans per read, CH clauses work inside
    Graft.sql(spark, """
      CREATE VIEW top_nations AS
      SELECT n_regionkey, n_name FROM nation
      ORDER BY n_regionkey ASC, n_name DESC
      LIMIT 2 BY n_regionkey""")
    assert(spark.table("top_nations").count() == 10)
    assert(Graft.sql(spark, "EXISTS TABLE top_nations")
      .collect().head.getInt(0) == 1)
    assert(Graft.sql(spark, "EXISTS TABLE nope_nope")
      .collect().head.getInt(0) == 0)
    // rename carries engine metadata: a CTAS Replacing table keeps
    // its FINAL collapse and sampling key under the new name
    Graft.sql(spark, """
      CREATE TABLE rn_src ENGINE = ReplacingMergeTree(v)
      ORDER BY (r_regionkey) SAMPLE BY r_regionkey AS
      SELECT r_regionkey, 1 AS v FROM region
      UNION ALL SELECT r_regionkey, 2 AS v FROM region""")
    Graft.sql(spark, "RENAME TABLE rn_src TO rn_dst")
    assert(!spark.catalog.tableExists("rn_src"))
    assert(Graft.sql(spark, "SELECT * FROM rn_dst FINAL").count() == 5)
    assert(Graft.sql(spark, "SELECT count(*) AS n FROM rn_dst SAMPLE 1")
      .collect().head.getLong(0) == 10)
    // OPTIMIZE ... FINAL applies the registered engine collapse and
    // REWRITES the table (reads after it see the collapsed rows)
    Graft.sql(spark, "OPTIMIZE TABLE rn_dst FINAL")
    assert(spark.table("rn_dst").count() == 5)
    Graft.sql(spark, "DROP TABLE rn_dst")
    intercept[Exception] {
      Graft.sql(spark, "RENAME TABLE nope_nope TO x")
    }
    intercept[Exception] { // no engine metadata registered
      Graft.sql(spark, "OPTIMIZE TABLE nation FINAL")
    }
    spark.catalog.dropTempView("top_nations")
  }

  test("clause routing survives -- comments with apostrophes") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT n_regionkey, n_name -- that's the nation's name
      FROM nation
      ORDER BY n_regionkey ASC, n_name DESC -- don't reorder this
      LIMIT 2 BY n_regionkey""").collect()
    assert(r.length == 10)
    // a commented-out LIMIT BY must NOT route
    val r2 = Graft.sql(spark, """
      SELECT n_regionkey FROM nation
      -- LIMIT 2 BY n_regionkey
      ORDER BY n_regionkey""").collect()
    assert(r2.length == 25)
    // block comments strip too (string literals with /* survive)
    val r3 = Graft.sql(spark, """
      SELECT n_regionkey, /* the region's
        key, isn't it */ count(*) AS n, '/*x' AS lit
      FROM nation GROUP BY n_regionkey
      ORDER BY n_regionkey ASC
      LIMIT 1 BY n_regionkey""").collect()
    assert(r3.length == 5 && r3.forall(_.getString(2) == "/*x"))
    // comment markers INSIDE string literals pass through untouched
    for (lit <- Seq("a--b", "a/*b", "a*/b", "it's--fine", "--", "/**/"))
      assert(Graft.sql(spark,
        s"SELECT '${lit.replace("'", "''")}' AS s FROM system.one")
        .collect().head.getString(0) == lit, s"literal '$lit'")
  }

  test("groupArraySorted, uniqExactIf, sumKahan spellings") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT groupArraySorted(3)(n_nationkey) AS low3,
             uniqExactIf(n_regionkey, n_nationkey < 10) AS regs,
             round(sumKahan(n_nationkey / 3.0), 4) AS ks
      FROM nation""").collect().head
    assert(r.getSeq[Long](0) == Seq(0L, 1L, 2L))
    assert(r.getLong(1) ==
      spark.sql("""SELECT count(DISTINCT CASE WHEN n_nationkey < 10
                   THEN n_regionkey END) FROM nation""").collect().head.getLong(0))
    val exact = (0 until 25).sum / 3.0 // 300/3 = 100 exactly
    assert(math.abs(r.getDouble(2) - exact) < 1e-4)
  }

  test("ALTER TABLE ADD INDEX: transparent pruned reads, exact results") {
    Graft.init(spark, "/root/testdata/sf0.001")
    Graft.sql(spark, """
      CREATE TABLE li_idx ENGINE = MergeTree ORDER BY (l_suppkey) AS
      SELECT l_orderkey, l_suppkey, l_quantity FROM lineitem""")
    val expected = spark.sql("""
      SELECT CAST(sum(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS s,
             count(*) AS n
      FROM li_idx WHERE l_suppkey = 7""").collect().head
    Graft.sql(spark,
      "ALTER TABLE li_idx ADD INDEX sk l_suppkey TYPE bloom_filter GRANULARITY 6")
    val before = ChSql.indexRoutedCount.get()
    val got = Graft.sql(spark, """
      SELECT CAST(sum(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS s,
             count(*) AS n
      FROM li_idx WHERE l_suppkey = 7""").collect().head
    assert(ChSql.indexRoutedCount.get() == before + 1, "index path not taken")
    assert(got == expected)
    // minmax+set index variant, numeric literal, and a non-eq query
    // (must NOT route; full scan still correct)
    Graft.sql(spark,
      "ALTER TABLE li_idx ADD INDEX sk2 l_suppkey TYPE minmax")
    val got2 = Graft.sql(spark, """
      SELECT count(*) AS n FROM li_idx WHERE l_suppkey = 7""")
      .collect().head.getLong(0)
    assert(got2 == expected.getLong(1))
    val b2 = ChSql.indexRoutedCount.get()
    val rangeN = Graft.sql(spark,
      "SELECT count(*) AS n FROM li_idx WHERE l_suppkey > 7")
      .collect().head.getLong(0)
    assert(ChSql.indexRoutedCount.get() == b2, "range predicate must not route")
    assert(rangeN > 0)
    // join shape must not route either
    val j = Graft.sql(spark, """
      SELECT count(*) AS n FROM li_idx JOIN supplier
      ON li_idx.l_suppkey = supplier.s_suppkey
      WHERE l_suppkey = 7""").collect().head.getLong(0)
    assert(ChSql.indexRoutedCount.get() == b2)
    assert(j == expected.getLong(1))
    // a MUTATION invalidates the index: the routed path must not
    // resurrect deleted rows
    Graft.sql(spark, "ALTER TABLE li_idx DELETE WHERE l_suppkey = 7")
    val b3 = ChSql.indexRoutedCount.get()
    val afterDel = Graft.sql(spark,
      "SELECT count(*) AS n FROM li_idx WHERE l_suppkey = 7")
      .collect().head.getLong(0)
    assert(afterDel == 0L, "stale index resurrected deleted rows")
    assert(ChSql.indexRoutedCount.get() == b3, "mutated table must not route")
    // DROP INDEX unregisters; reads fall back to the full scan
    Graft.sql(spark, "ALTER TABLE li_idx ADD INDEX sk3 l_suppkey TYPE minmax")
    Graft.sql(spark, "ALTER TABLE li_idx DROP INDEX sk3")
    val b4 = ChSql.indexRoutedCount.get()
    Graft.sql(spark,
      "SELECT count(*) AS n FROM li_idx WHERE l_suppkey = 3").collect()
    assert(ChSql.indexRoutedCount.get() == b4)
    Graft.sql(spark, "DROP TABLE li_idx")
  }

  test("dialect sweep: split/search/array/bit/time spellings") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT splitByRegexp('[0-9]+', 'a1b22c') AS sr,
             hasToken('hello big world', 'world') AS tok_t,
             hasToken('hello', 'ell') AS tok_f,
             multiSearchAllPositions('hello', ['l', 'o', 'z']) AS msp,
             timeDiff(toDateTime('2024-01-01 00:00:00'),
                      toDateTime('2024-01-01 01:00:00')) AS td,
             toUnixTimestamp64Milli(
               fromUnixTimestamp64Milli(1704067200123)) AS ms_rt,
             arrayResize([1,2], 4, 0) AS grow,
             arrayResize([1,2,3], 2, 0) AS shrink,
             arrayRotateLeft([1,2,3], 5) AS rot,
             arrayShingles([1,2,3,4], 2) AS sh,
             bitHammingDistance(7, 1) AS hd,
             round(stringJaccardIndex('apple', 'applet') * 1000) AS jac,
             editDistance('abc', 'abd') AS ed,
             formatReadableDecimalSize(1500000) AS frs
      FROM system.one""").collect().head
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getSeq[Int](3) == Seq(3, 5, 0))
    assert(r.getLong(4) == 3600L && r.getLong(5) == 1704067200123L)
    assert(r.getSeq[Int](6) == Seq(1, 2, 0, 0) && r.getSeq[Int](7) == Seq(1, 2))
    assert(r.getSeq[Int](8) == Seq(3, 1, 2)) // 5 mod 3 = 2 positions
    assert(r.getSeq[Seq[Int]](9) == Seq(Seq(1, 2), Seq(2, 3), Seq(3, 4)))
    assert(r.getInt(10) == 2)
    assert(r.getDouble(11) == 800.0) // {a,p,l,e} vs {a,p,l,e,t} = 4/5
    assert(r.getInt(12) == 1)
    assert(r.getString(13) == "1.50 MB")
  }

  test("retention spelling equals its flag-max expansion") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val rows = Graft.sql(spark, """
      SELECT user_id,
             retention(event_type = 'view', event_type = 'click',
                       event_type = 'purchase') AS r,
             array(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
                   max(CASE WHEN event_type = 'view' AND event_type = 'click'
                       THEN 1 ELSE 0 END),
                   max(CASE WHEN event_type = 'view' AND event_type = 'purchase'
                       THEN 1 ELSE 0 END)) AS tw
      FROM events GROUP BY user_id""").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"$r"))
  }

  test("r7 probe-driven breadth: known answers") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT replaceOne('aXbXc', 'X', '-') AS r1,
             replaceRegexpOne('a1b2', '[0-9]', '#') AS r2,
             format('{1}/{0}', 'x', 'y') AS f,
             tryBase64Decode('!!!') AS tb,
             hex(SHA256('abc')) AS sh,
             L2Distance([1.0, 2.0], [4.0, 6.0]) AS l2,
             dotProduct([1, 2, 3], [4, 5, 6]) AS dp,
             cosineDistance([1.0, 0.0], [0.0, 1.0]) AS cd,
             hasSubstr([1, 2, 3, 4], [2, 3]) AS hs,
             hasSubstr([1, 2, 3, 4], [2, 4]) AS hs2,
             bitmapAndCardinality(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4])) AS bc,
             toYearWeek(toDate('2024-01-01')) AS yw,
             intExp10(3) AS ie,
             round(tgamma(5), 6) AS tg,
             round(erf(0), 6) AS er,
             halfMD5('abc') AS hm,
             0xFF + 1 AS hx,
             isNaN(nan) AS nn
    """).head()
    assert(r.getString(0) == "a-bXc")
    assert(r.getString(1) == "a#b2")
    assert(r.getString(2) == "y/x")
    assert(r.getString(3) == "")
    assert(r.getString(4) ==
      "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD")
    assert(r.getDouble(5) == 5.0)
    assert(r.getDouble(6) == 32.0)
    assert(math.abs(r.getDouble(7) - 1.0) < 1e-9)
    assert(r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getInt(10) == 2)
    // 2024-01-01 is a Monday before 2024's first Sunday → MySQL
    // YEARWEEK(d,0) = 202353 (last week of the previous year)
    assert(r.getInt(11) == 202353, s"yw = ${r.getInt(11)}")
    assert(r.getLong(12) == 1000L)
    assert(math.abs(r.getDouble(13) - 24.0) < 1e-6)
    assert(r.getDouble(14) == 0.0)
    // halfMD5('abc'): first 8 bytes of 900150983cd24fb0… big-endian
    assert(r.getLong(15) == java.lang.Long.parseUnsignedLong("900150983cd24fb0", 16))
    assert(r.getInt(16) == 256)
    assert(r.getBoolean(17))
  }

  test("wave-5 map/string functions: known answers") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT mapApply((k, v) -> (k, v * 2), map('a', 1, 'b', 2)) AS ma,
             mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS mf,
             mapUpdate(map('a', 1, 'c', 3), map('a', 9, 'b', 2)) AS mu,
             extractAll('a1b22c', '[0-9]+') AS ea,
             clamp(5, 1, 3) AS cl,
             round(jaroWinklerSimilarity('martha', 'marhta'), 4) AS jw,
             formatReadableTimeDelta(7653) AS td,
             arraySplit((x, y) -> y, [1, 2, 3, 4], [0, 1, 0, 1]) AS sp""").head()
    assert(r.getMap[String, Int](0) == Map("a" -> 2, "b" -> 4))
    assert(r.getMap[String, Int](1) == Map("b" -> 2))
    assert(r.getMap[String, Int](2) == Map("a" -> 9, "b" -> 2, "c" -> 3))
    assert(r.getSeq[String](3) == Seq("1", "22"))
    assert(r.getInt(4) == 3)
    assert(r.getDouble(5) == 0.9611)
    assert(r.getString(6) == "2 hours, 7 minutes and 33 seconds")
    assert(r.getSeq[Seq[Int]](7) == Seq(Seq(1), Seq(2, 3), Seq(4)))
  }

  test("tumble/hop WindowView spellings equal Spark window()") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val t = Graft.sql(spark, """
      SELECT tumbleStart(ts, INTERVAL 1 DAY) AS day, count() AS n
      FROM events GROUP BY tumble(ts, INTERVAL 1 DAY) ORDER BY day""").collect()
    val tw = Graft.sql(spark, """
      SELECT window.start AS day, count(*) AS n
      FROM events GROUP BY window(ts, '1 day') ORDER BY day""").collect()
    assert(t.nonEmpty && t.toSeq == tw.toSeq)
    // hop: CH (t, slide, size) vs Spark (t, size, slide); each event
    // lands in size/slide windows
    val h = Graft.sql(spark, """
      SELECT hopStart(ts, INTERVAL 1 DAY, INTERVAL 2 DAY) AS ws, count() AS n
      FROM events GROUP BY hop(ts, INTERVAL 1 DAY, INTERVAL 2 DAY)
      ORDER BY ws""").collect()
    val hw = Graft.sql(spark, """
      SELECT window.start AS ws, count(*) AS n
      FROM events GROUP BY window(ts, '2 days', '1 day') ORDER BY ws""").collect()
    assert(h.nonEmpty && h.toSeq == hw.toSeq)
  }

  test("-Resample combinator: bucket bounds, clipping, out-of-range keys") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // CH doc shape: countResample(30, 75, 30) → buckets [30,60), [60,75);
    // nationkeys 0..24 resampled by themselves over [5, 22) step 10 →
    // [5,15) and [15,22): counts 10 and 7, keys <5 and >=22 ignored
    val r = Graft.sql(spark, """
      SELECT countResample(5, 22, 10)(n_name, n_nationkey) AS c,
             sumResample(5, 22, 10)(n_nationkey, n_nationkey) AS s,
             minResample(5, 22, 10)(n_nationkey, n_nationkey) AS lo
      FROM nation""").head()
    assert(r.getSeq[Long](0) == Seq(10L, 7L))
    // sum(5..14) = 95, sum(15..21) = 126
    assert(r.getSeq[Long](1) == Seq(95L, 126L))
    assert(r.getSeq[Int](2) == Seq(5, 15))
  }

  test("encryption/encoding family: AES roundtrips, base58 vector, punycode") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT decrypt('aes-128-ecb',
               encrypt('aes-128-ecb', 'secret text', '0123456789abcdef'),
               '0123456789abcdef') AS ecb,
             decrypt('aes-256-cbc',
               encrypt('aes-256-cbc', 'hi', '0123456789abcdef0123456789abcdef',
                       'ivivivivivivivi1'),
               '0123456789abcdef0123456789abcdef', 'ivivivivivivivi1') AS cbc,
             base58Encode('Hello World!') AS b58,
             base58Decode('2NEpo7TZRRrLZSi2U') AS b58d,
             idnaEncode('münchen.de') AS ie,
             idnaDecode('xn--mnchen-3ya.de') AS id,
             punycodeEncode('München') AS pe,
             punycodeDecode('Mnchen-3ya') AS pd,
             aes_decrypt_mysql('aes-128-ecb',
               aes_encrypt_mysql('aes-128-ecb', 'fold me', '0123456789abcdefX'),
               '0123456789abcdefX') AS myfold,
             aes_decrypt_mysql('aes-128-ecb',
               aes_encrypt_mysql('aes-128-ecb', 'pad me', 'short'),
               'short') AS mypad
      FROM system.one""").collect().head
    assert(r.getString(0) == "secret text" && r.getString(1) == "hi")
    // the published Bitcoin base58 test vector
    assert(r.getString(2) == "2NEpo7TZRRrLZSi2U" && r.getString(3) == "Hello World!")
    // IDN form carries xn--; CH's punycode* is the RAW RFC 3492
    // bootstring over the whole string (no prefix)
    assert(r.getString(4) == "xn--mnchen-3ya.de" && r.getString(5) == "münchen.de")
    assert(r.getString(6) == "Mnchen-3ya" && r.getString(7) == "München")
    // MySQL key rules: 17-byte key XOR-folds, 5-byte key zero-pads —
    // both must roundtrip (and differ from the strict truncate path)
    assert(r.getString(8) == "fold me" && r.getString(9) == "pad me")
    // tryDecrypt returns NULL on garbage instead of throwing
    val t = Graft.sql(spark,
      "SELECT tryDecrypt('aes-128-ecb', CAST('nonsense!' AS BINARY), " +
        "'0123456789abcdef') AS x FROM system.one").collect().head
    assert(t.isNullAt(0))
  }

  test("SETTINGS: perf-only accepted and recorded, semantic ones fail loudly") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark,
      "SELECT count() AS c FROM nation SETTINGS max_memory_usage = 99").collect()
    assert(r.head.getLong(0) == 25L)
    assert(spark.conf.get("graft.ch.setting.max_memory_usage") == "99")
    // join_use_nulls silently ignored would return DIFFERENT answers
    // than CH — must refuse
    val e = intercept[Exception](Graft.sql(spark,
      "SELECT count() AS c FROM nation SETTINGS join_use_nulls = 1"))
    assert(e.getMessage.contains("semantics"))
    val e2 = intercept[Exception](Graft.sql(spark, "SET final = 1"))
    assert(e2.getMessage.contains("semantics"))
  }

  test("JSON/Dynamic/Variant column types map onto Spark 4 VariantType") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // CAST(x AS JSON) must PARSE (CAST to VARIANT would wrap the
    // string); Dynamic/Variant(T…) wrap as variant; dynamicType /
    // variantType read the runtime schema back
    val r = Graft.sql(spark, """
      SELECT variant_get(CAST(props AS JSON), '$.k', 'bigint') AS k,
             variant_get('{"a": {"b": 7}}'::JSON, '$.a.b', 'int') AS nested,
             schema_of_variant(CAST(props AS JSON)) AS sch,
             dynamicType(CAST(n_nationkey AS Dynamic)) AS dt,
             variantType(CAST('x' AS Variant(String, Int64))) AS vt
      FROM events JOIN nation ON n_nationkey = CAST(user_id AS INT)
      ORDER BY event_id LIMIT 1""").collect().head
    assert(r.getLong(0) == 87L && r.getInt(1) == 7)
    assert(r.getString(2) == "OBJECT<k: BIGINT>")
    assert(r.getString(3) == "BIGINT" && r.getString(4) == "STRING")
    // Nullable(JSON) unwraps then parses
    val n = Graft.sql(spark,
      "SELECT variant_get(CAST('{\"z\": 3}' AS Nullable(JSON)), '$.z', 'int') AS z")
      .collect().head
    assert(n.getInt(0) == 3)
  }

  test("CH WHERE-alias resolution: substitute, shadow, self-reference guard") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // alias of a computed expression is visible in WHERE (CH semantics)
    val a = Graft.sql(spark, """
      SELECT n_nationkey * 2 AS dbl FROM nation
      WHERE dbl > 40 ORDER BY dbl""").collect()
    assert(a.map(_.getAs[Number](0).longValue).toSeq == Seq(42L, 44L, 46L, 48L))
    // alias SHADOWS a real column of a different name (CH behavior)
    val b = Graft.sql(spark, """
      SELECT n_nationkey + 100 AS n_regionkey FROM nation
      WHERE n_regionkey > 120 ORDER BY n_regionkey""").collect()
    assert(b.length == 4 && b.head.getAs[Number](0).longValue == 121L)
    // SELF-REFERENTIAL rename keeps COLUMN semantics (no cyclic
    // substitution): filter applies to the original column values
    val c = Graft.sql(spark, """
      SELECT n_nationkey + 100 AS n_nationkey FROM nation
      WHERE n_nationkey < 2 ORDER BY n_nationkey""").collect()
    assert(c.map(_.getAs[Number](0).longValue).toSeq == Seq(100L, 101L))
    // PREWHERE sees aliases too
    val d = Graft.sql(spark, """
      SELECT n_nationkey % 5 AS m5, count() AS c FROM nation
      PREWHERE m5 = 3 GROUP BY m5 ORDER BY m5""").collect()
    assert(d.length == 1 && d.head.getLong(1) == 5L)
  }

  test("r9 advice fixes: quantile-If tail, empty arrayResize, week anchor") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // long-tail quantile spelling + If: the condition must become a
    // FILTER clause (a greedy catch-all used to absorb the If into
    // the name and feed the condition to percentile as a weight).
    // All n_regionkey=0 nations have nationkey in {0,5,10,14,16};
    // median = 10. With the bug the weight path would mix ALL rows.
    val q = Graft.sql(spark, """
      SELECT quantileBFloat16WeightedIf(0.5)(n_nationkey, n_regionkey = 0) AS m,
             quantileTimingIf(0.5)(n_nationkey, n_regionkey < 0) AS nullq
      FROM nation""").collect().head
    assert(q.getDouble(0) == 10.0 && q.isNullAt(1))
    // 2-arg arrayResize on an EMPTY array: typed-zero padding, not an
    // ANSI ARRAY_INDEX_OUT_OF_BOUNDS throw
    val r = Graft.sql(spark, """
      SELECT arrayResize(arrayFilter(x -> x > 9, [1, 2]), 3) AS pad,
             arrayResize(CAST([] AS ARRAY<DOUBLE>), 2) AS padd
      FROM system.one""").collect().head
    assert(r.getSeq[Int](0) == Seq(0, 0, 0))
    assert(r.getSeq[Double](1) == Seq(0.0, 0.0))
    // toRelativeWeekNum: Monday-anchored like CH — Friday 1970-01-02
    // and the following Monday 1970-01-05 differ by exactly 1 week
    val w = Graft.sql(spark, """
      SELECT toRelativeWeekNum(toDate('1970-01-05'))
               - toRelativeWeekNum(toDate('1970-01-02')) AS fri_to_mon,
             toRelativeWeekNum(toDate('1970-01-04'))
               - toRelativeWeekNum(toDate('1970-01-02')) AS fri_to_sun,
             toRelativeWeekNum(toDate('2024-03-04'))
               - toRelativeWeekNum(toDate('2024-03-03')) AS sun_to_mon
      FROM system.one""").collect().head
    assert(w.getLong(0) == 1L && w.getLong(1) == 0L && w.getLong(2) == 1L)
    // CH: toTimeZone re-labels the DISPLAY zone only — the instant is
    // unchanged, so toUnixTimestamp(toTimeZone(x, tz)) = toUnixTimestamp(x).
    // The epoch builders unwrap the wall-clock shift; display functions
    // still see the shifted reading. Both halves pinned:
    val tz = Graft.sql(spark, """
      SELECT toUnixTimestamp(toTimeZone(toDateTime('2024-03-05 12:00:00'),
                                        'Asia/Tokyo')) AS ep,
             toUnixTimestamp(toDateTime('2024-03-05 12:00:00')) AS ep0,
             toUnixTimestamp64Micro(toTimeZone(
               toDateTime('2024-03-05 12:00:00'), 'Asia/Tokyo')) AS epu,
             toHour(toTimeZone(toDateTime('2024-03-05 12:00:00'),
                               'Asia/Tokyo')) AS h,
             toString(toTimeZone(toDateTime('2024-03-05 12:00:00'),
                                 'Asia/Tokyo')) AS wall
      FROM system.one""").collect().head
    assert(tz.getLong(0) == 1709640000L) // 12:00 UTC — NOT shifted
    assert(tz.getLong(1) == 1709640000L)
    assert(tz.getLong(2) == 1709640000000000L)
    assert(tz.getInt(3) == 21)           // display reading IS Tokyo
    assert(tz.getString(4) == "2024-03-05 21:00:00")
  }

  test("r10 advice fixes: OrNull parse, reinterpret roundtrip, fill [], alias depth, accurateCast gate") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // parseDateTimeOrNull: garbage → NULL even under ANSI; the plain
    // form keeps CH's throwing contract
    val p = Graft.sql(spark, """
      SELECT parseDateTimeOrNull('garbage', '%Y-%m-%d') AS bad,
             parseDateTimeOrNull('2024-03-05', '%Y-%m-%d') AS ok
      FROM system.one""").collect().head
    assert(p.isNullAt(0) && !p.isNullAt(1))
    intercept[Exception](Graft.sql(spark,
      "SELECT parseDateTime('garbage', '%Y-%m-%d') AS x FROM system.one")
      .collect())
    // reinterpret roundtrip is byte-faithful for bytes >= 0x80 (200 =
    // 0xC8) and for multi-byte values crossing the sign bit of a
    // byte; unhex() binary inputs hit the same single registration
    val ri = Graft.sql(spark, """
      SELECT reinterpretAsUInt64(reinterpretAsString(200)) AS a,
             reinterpretAsUInt64(reinterpretAsString(51966)) AS b,
             reinterpretAsUInt64(unhex('C8')) AS c,
             reinterpretAsInt64(unhex('FFFFFFFFFFFFFFFF')) AS d,
             reinterpretAsUInt8(unhex('C8')) AS e
      FROM system.one""").collect().head
    assert(ri.getLong(0) == 200L && ri.getLong(1) == 51966L)
    assert(ri.getLong(2) == 200L && ri.getLong(3) == -1L && ri.getLong(4) == 200L)
    // arrayFill/arrayReverseFill on an empty array → [] (CH), not an
    // ANSI INVALID_ARRAY_INDEX from sequence(1, 0)
    val af = Graft.sql(spark, """
      SELECT arrayFill(x -> x > 1, arrayFilter(x -> x > 9, [1, 2])) AS a,
             arrayReverseFill(x -> x > 1, arrayFilter(x -> x > 9, [1, 2])) AS b,
             arrayFill(x -> x > 1, [1, 2, 0, 3, 0]) AS c
      FROM system.one""").collect().head
    assert(af.getSeq[Int](0).isEmpty && af.getSeq[Int](1).isEmpty)
    assert(af.getSeq[Int](2) == Seq(1, 2, 2, 3, 3))
    // SELECT-alias resolution inside parenthesized WHERE conjuncts
    // (CH resolves the alias at any grouping depth); subquery scopes
    // stay untouched
    val wa = Graft.sql(spark, """
      SELECT n_nationkey + 100 AS shifted FROM nation
      WHERE (shifted > 120 AND n_regionkey >= 0)""").collect()
    assert(wa.length == 4 && wa.forall(_.getInt(0) > 120))
    val ws = Graft.sql(spark, """
      SELECT n_nationkey + 100 AS n_regionkey FROM nation
      WHERE n_nationkey IN (SELECT n_regionkey FROM nation)""").collect()
    assert(ws.length == 5) // subquery's n_regionkey is the COLUMN (0-4)
    // an alias STARTING with a subquery keyword must still substitute:
    // `(withdrawal …)` is a grouping paren, not a (WITH …) subquery
    val wd = Graft.sql(spark, """
      SELECT n_nationkey + 100 AS withdrawal FROM nation
      WHERE (withdrawal > 120 AND n_regionkey >= 0)""").collect()
    assert(wd.length == 4 && wd.forall(_.getInt(0) > 120))
    val sel = Graft.sql(spark, """
      SELECT n_nationkey + 100 AS selection FROM nation
      WHERE (selection > 120)""").collect()
    assert(sel.length == 4)
    // a backtick-quoted identifier in WHERE is OPAQUE to alias
    // substitution: `n_regionkey` names the real column even when an
    // alias shadows the name (substituting inside the quotes would
    // yield the garbage identifier `(n_nationkey + 100)`)
    val bt = Graft.sql(spark, """
      SELECT n_nationkey + 100 AS n_regionkey FROM nation
      WHERE `n_regionkey` >= 3""").collect()
    assert(bt.length == 10) // the COLUMN (regions 3,4 × 5 nations each)
    // accurateCast unsigned gate: decimal-exact bounds, integrality,
    // UInt64 boundary values near/over 2^53 and 2^63
    val ac = Graft.sql(spark, """
      SELECT accurateCastOrNull(3.5, 'UInt8') AS frac,
             accurateCast(255, 'UInt8') AS hi8,
             accurateCastOrNull(256, 'UInt8') AS over8,
             accurateCastOrNull(-1, 'UInt64') AS neg,
             accurateCast(9007199254740993, 'UInt64') AS over53,
             accurateCastOrNull(9223372036854775807, 'UInt64') AS maxl
      FROM system.one""").collect().head
    assert(ac.isNullAt(0) && ac.getAs[Number](1).longValue == 255L &&
      ac.isNullAt(2))
    assert(ac.isNullAt(3) && ac.getLong(4) == 9007199254740993L)
    assert(ac.getLong(5) == Long.MaxValue)
    // sub-µ fractions must NOT slip through the DECIMAL(38,6) image's
    // rounding: CH rejects any non-integral value, however small the
    // fractional part
    val sub = Graft.sql(spark, """
      SELECT accurateCastOrNull(255.0000004, 'UInt8') AS subu,
             accurateCastOrNull(254.9999996, 'UInt8') AS subd,
             accurateCast(255.0, 'UInt8') AS exact
      FROM system.one""").collect().head
    assert(sub.isNullAt(0) && sub.isNullAt(1))
    assert(sub.getAs[Number](2).longValue == 255L)
    intercept[Exception](Graft.sql(spark,
      "SELECT accurateCast(3.5, 'UInt8') AS x FROM system.one").collect())
    intercept[Exception](Graft.sql(spark,
      "SELECT accurateCast(256, 'UInt8') AS x FROM system.one").collect())
  }

  test("wave 23: space-filling curves — known answers, roundtrip, curve adjacency") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // morton: x on even bit positions, y on odd — (3, 5) interleaves
    // to 0b100111 = 39; decode inverts
    val m = Graft.sql(spark, """
      SELECT mortonEncode(3, 5) AS me,
             tupleElement(mortonDecode(2, 39), 1) AS x,
             tupleElement(mortonDecode(2, 39), 2) AS y,
             hilbertEncode(0, 0) AS h0
      FROM system.one""").collect().head
    assert(m.getLong(0) == 39L && m.getLong(1) == 3L && m.getLong(2) == 5L)
    assert(m.getLong(3) == 0L)
    // the Hilbert curve is CONTINUOUS: consecutive d values decode to
    // 4-neighbour cells (|Δx| + |Δy| = 1) — the property that makes it
    // a better range-scan cell index than morton; also encode∘decode
    // identity over the same prefix
    val pts = Graft.sql(spark, """
      SELECT number AS d,
             tupleElement(hilbertDecode(2, number), 1) AS x,
             tupleElement(hilbertDecode(2, number), 2) AS y,
             hilbertEncode(tupleElement(hilbertDecode(2, number), 1),
                           tupleElement(hilbertDecode(2, number), 2)) AS rt
      FROM numbers(64) ORDER BY d""").collect()
    assert(pts.length == 64)
    pts.foreach(r => assert(r.getLong(3) == r.getLong(0), s"roundtrip at d=${r.getLong(0)}"))
    pts.sliding(2).foreach { case Array(a, b) =>
      val dist = math.abs(a.getLong(1) - b.getLong(1)) +
        math.abs(a.getLong(2) - b.getLong(2))
      assert(dist == 1L, s"curve jump between d=${a.getLong(0)} and ${b.getLong(0)}")
    }
    // wave 24 non-gated pieces: RFC 5952 IPv6 rendering (zero-run
    // compression, v4-mapped tail) and type-level tuple names
    val w24 = Graft.sql(spark, """
      SELECT IPv6NumToString(unhex('20010DB8000000000000000000000001')) AS a,
             IPv6NumToString(unhex('00000000000000000000FFFF7F000001')) AS m,
             IPv6NumToString(unhex('00000000000000000000000000000000')) AS z,
             arrayStringConcat(tupleNames(
               CAST(tuple(1, 'x') AS Tuple(k Int64, nm String))), '|') AS tn
      FROM system.one""").collect().head
    assert(w24.getString(0) == "2001:db8::1")
    assert(w24.getString(1) == "::ffff:7f00:1")
    assert(w24.getString(2) == "::")
    assert(w24.getString(3) == "k|nm")
    // inverse-pair property over 300 md5-random 16-byte addresses:
    // the RFC 5952 rendering must re-parse to the same bytes
    val badV6 = Graft.sql(spark, """
      SELECT count() AS bad FROM
        (SELECT unhex(md5(toString(number))) AS b FROM numbers(300))
      WHERE IPv6StringToNum(IPv6NumToString(b)) != b""")
      .collect().head.getLong(0)
    assert(badV6 == 0L)
    // wave 25: p-value machinery pinned against t-TABLE critical
    // values (two-sided 0.05 rows) and the standard-normal quantile —
    // published constants, not derived from this implementation
    val tp = Graft.sql(spark, """
      SELECT studentTPValue(2.228, 10) AS a,
             studentTPValue(12.706, 1) AS b,
             studentTPValue(1.96, 1e9) AS c,
             probit(0.975) AS z
      FROM system.one""").collect().head
    assert(math.abs(tp.getDouble(0) - 0.05) < 5e-4)
    assert(math.abs(tp.getDouble(1) - 0.05) < 5e-4)
    // huge df → normal: 2·(1−Φ(1.96)) = 0.05
    assert(math.abs(tp.getDouble(2) - 0.05) < 5e-4)
    assert(math.abs(tp.getDouble(3) - 1.959964) < 1e-4)
    // meanZTest CI covers the true mean difference symmetrically
    val mz = Graft.sql(spark, """
      SELECT meanZTest(52.0, 52.0, 0.95)(toFloat64(n_nationkey),
                                         n_regionkey % 2) AS r
      FROM nation""").collect().head.getStruct(0)
    assert(math.abs(mz.getDouble(1) - 1.0) < 1e-6)  // symmetric → p ≈ 1
    assert(mz.getDouble(2) < 0 && mz.getDouble(3) > 0)
    assert(math.abs(mz.getDouble(2) + mz.getDouble(3)) < 1e-9)
    // mannWhitneyUTest p-value half: must equal the two-sided normal
    // tail of the RELATIONAL entry's tie-corrected z (the U halves
    // already hash-match through the gate)
    val mwRow = Graft.sql(spark, """
      SELECT mannWhitneyUTest('two-sided', 0)(x, i) AS mw
      FROM (SELECT toFloat64(l_quantity) AS x,
                   CASE WHEN l_returnflag = 'A' THEN 0 ELSE 1 END AS i
            FROM lineitem WHERE l_returnflag IN ('A', 'R'))""")
      .collect().head.getStruct(0)
    val zRel = SparkEntry.queries("agg_mann_whitney")(spark,
      "/root/testdata/sf0.001").collect().head.getDouble(1)
    val pFromZ = {
      val z = math.abs(zRel)
      // Φ tail via the same A&S erf class of approximation
      val t = 1.0 / (1.0 + 0.3275911 * (z / math.sqrt(2.0)))
      val x = z / math.sqrt(2.0)
      val erf = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741)
        * t - 0.284496736) * t + 0.254829592) * t * math.exp(-x * x)
      math.min(1.0, 2.0 * 0.5 * (1.0 - erf))
    }
    assert(math.abs(mwRow.getDouble(1) - pFromZ) < 1e-3,
      s"p=${mwRow.getDouble(1)} vs fromZ=$pFromZ")
    // kolmogorovSmirnovTest: D equals the relational entry's ks_d on
    // the same split, and the asymptotic p sits at a KNOWN point —
    // Q(λ=1.2238…) = 0.10 two-sided (published Kolmogorov table:
    // λ = 1.22 gives ≈ 0.10)
    val ksRow = Graft.sql(spark, """
      SELECT kolmogorovSmirnovTest(x, i) AS ks
      FROM (SELECT toFloat64(l_quantity) AS x,
                   CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END AS i
            FROM lineitem WHERE l_returnflag IN ('R', 'N'))""")
      .collect().head.getStruct(0)
    val ksRel = SparkEntry.queries("agg_ks_test")(spark,
      "/root/testdata/sf0.001").collect().head.getDouble(0)
    assert(math.abs(ksRow.getDouble(0) - ksRel) < 1e-4)
    assert(ksRow.getDouble(1) > 0.0 && ksRow.getDouble(1) <= 1.0)
    // roundtrip property over 500 deterministic pseudo-random FULL
    // 32-bit coordinates (md5-derived — no rand()): decode∘encode is
    // the identity for both curves across the whole domain, not just
    // the small values the known answers pin
    val badCurves = Graft.sql(spark, """
      SELECT count() AS bad FROM (
        SELECT CAST(conv(substring(md5(concat('hx', toString(number))), 1, 8),
                         16, 10) AS BIGINT) AS x,
               CAST(conv(substring(md5(concat('hy', toString(number))), 1, 8),
                         16, 10) AS BIGINT) AS y
        FROM numbers(500))
      WHERE tupleElement(hilbertDecode(2, hilbertEncode(x, y)), 1) != x
         OR tupleElement(hilbertDecode(2, hilbertEncode(x, y)), 2) != y
         OR tupleElement(mortonDecode(2, mortonEncode(x, y)), 1) != x
         OR tupleElement(mortonDecode(2, mortonEncode(x, y)), 2) != y""")
      .collect().head.getLong(0)
    assert(badCurves == 0L)
    // ngram family: CH 4-gram multiset formulas, hand-checked answers
    val ng = Graft.sql(spark, """
      SELECT ngramDistance('NATIONX', 'NATION_5') AS d1,
             ngramDistance('abc', 'abc') AS d_short,
             ngramSearch('clickhouse spark', 'click') AS s1,
             ngramSearch('zzzz', 'click') AS s0
      FROM system.one""").collect().head
    // grams(NATIONX)={NATI,ATIO,TION,IONX}, grams(NATION_5) adds ION_,ON_5
    // minus IONX: symdiff 3 of 9 total
    assert(math.abs(ng.getDouble(0) - 3.0 / 9) < 1e-12)
    assert(ng.getDouble(1) == 0.0) // both under 4 chars: empty == empty
    assert(ng.getDouble(2) == 1.0 && ng.getDouble(3) == 0.0)
  }

  test("wave 28: random distributions respect their supports") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // 6k draws per function (lineitem rows at sf0.001); support checks
    // are exact, the mean checks use generous 5-sigma-ish bands.
    // Draws happen per row in the subquery — Spark (correctly) refuses
    // nondeterministic expressions INSIDE aggregate arguments.
    val r = Graft.sql(spark, """
      SELECT
        min(du) >= 2 AND max(du) < 3 AS u,
        abs(avg(dn) - 10) < 1 AS n,
        min(dbe) >= 0 AND max(dbe) <= 1 AS be,
        min(dbi) >= 0 AND max(dbi) <= 10 AND abs(avg(dbi) - 5) < 1 AS bi,
        min(de) >= 0 AND abs(avg(de) - 0.5) < 0.2 AS e,
        min(dpo) >= 0 AND abs(avg(dpo) - 5) < 1 AS po,
        min(dch) >= 0 AND abs(avg(dch) - 3) < 1 AS ch,
        abs(avg(dst)) < 1 AS st,
        min(dff) >= 0 AS ff,
        min(dln) > 0 AS ln
      FROM (SELECT randUniform(2, 3) AS du, randNormal(10, 4) AS dn,
              randBernoulli(0.5) AS dbe, randBinomial(10, 0.5) AS dbi,
              randExponential(2) AS de, randPoisson(5) AS dpo,
              randChiSquared(3) AS dch, randStudentT(30) AS dst,
              randFisherF(5, 8) AS dff, randLogNormal(0, 0.25) AS dln
            FROM lineitem)""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("wave 28: frame-carrying window spellings route and refuse") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // the full frame strips onto plain lag/lead
    val ok = Graft.sql(spark, """
      SELECT lagInFrame(n_nationkey, 1, -1) OVER (ORDER BY n_nationkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lg
      FROM nation ORDER BY n_nationkey LIMIT 2""").collect()
    assert(ok.map(_.getInt(0)).toSeq == Seq(-1, 0))
    // a NARROW frame would change the CH answer — loud refusal
    val e = intercept[IllegalArgumentException] {
      Graft.sql(spark, """
        SELECT leadInFrame(n_nationkey, 1) OVER (ORDER BY n_nationkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
        FROM nation""")
    }
    assert(e.getMessage.contains("NARROW"))
    // nonNegativeDerivative without OVER is not a window call
    val e2 = intercept[IllegalArgumentException] {
      Graft.sql(spark,
        "SELECT nonNegativeDerivative(n_nationkey, n_nationkey) FROM nation")
    }
    assert(e2.getMessage.contains("window"))
  }

  test("wave 29: Porter stemmer matches the published sample vectors") {
    import graft.functions.ChDialect.porterStem
    // step-by-step examples from Porter 1980 (public paper) plus the
    // standard overall vectors
    val vectors = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "motoring" -> "motor",
      "sing" -> "sing", "conflated" -> "conflat", "troubled" -> "troubl",
      "sized" -> "size", "hopping" -> "hop", "tanned" -> "tan",
      "falling" -> "fall", "hissing" -> "hiss", "fizzed" -> "fizz",
      "failing" -> "fail", "filing" -> "file", "happy" -> "happi",
      "sky" -> "sky", "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "adoption" -> "adopt",
      "probate" -> "probat", "cease" -> "ceas", "controll" -> "control")
    vectors.foreach { case (in, out) =>
      assert(porterStem(in) == out, s"stem($in) = ${porterStem(in)} != $out")
    }
    Graft.init(spark, "/root/testdata/sf0.001")
    val e = intercept[Exception] {
      Graft.sql(spark, "SELECT stem('de', 'laufen') FROM system.one").collect()
    }
    // the require fires inside the UDF — walk the Spark wrapping
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ~ ")
    assert(msgs.contains("Porter"), msgs)
    val e2 = intercept[IllegalArgumentException] {
      Graft.sql(spark, "SELECT lemmatize('en', 'running') FROM system.one")
    }
    assert(e2.getMessage.contains("dictionaries"))
  }

  test("wave 29: polygon family known answers") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT
        polygonAreaCartesian([[tuple(toFloat64(0), toFloat64(0)),
          tuple(toFloat64(10), toFloat64(0)), tuple(toFloat64(10), toFloat64(10)),
          tuple(toFloat64(0), toFloat64(10))],
          [tuple(toFloat64(4), toFloat64(4)), tuple(toFloat64(5), toFloat64(4)),
           tuple(toFloat64(5), toFloat64(5)), tuple(toFloat64(4), toFloat64(5))]])
          = 99.0 AS hole_area,
        polygonPerimeterCartesian([[tuple(toFloat64(0), toFloat64(0)),
          tuple(toFloat64(3), toFloat64(0)), tuple(toFloat64(3), toFloat64(4))]])
          = 12.0 AS tri_perim,
        wkt([polygonConvexHullCartesian([[tuple(toFloat64(0), toFloat64(0)),
          tuple(toFloat64(4), toFloat64(0)), tuple(toFloat64(2), toFloat64(2)),
          tuple(toFloat64(4), toFloat64(4)), tuple(toFloat64(0), toFloat64(4))]])])
          = 'POLYGON((0 0,4 0,4 4,0 4,0 0))' AS hull,
        base32Encode('foobar') = 'MZXW6YTBOI======' AS b32,
        base32Decode('MZXW6YTBOI======') = 'foobar' AS b32d
      FROM system.one""").collect().head
    (0 until r.length).foreach(i => assert(r.getBoolean(i), s"col $i"))
  }

  test("wave 31: hierarchical dictionary walk survives cycles") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // 1 → 2 → 3 → 1 cycle plus a tail 4 → 3
    Graft.sql(spark, """
      CREATE TABLE cyc_src ENGINE = Memory AS
      SELECT CAST(c AS Int64) AS node, CAST(p AS Int64) AS parent
      FROM VALUES('c Int64, p Int64', (1, 2), (2, 3), (3, 1), (4, 3))""")
    Graft.sql(spark, """
      CREATE DICTIONARY cyc_dict (node Int64, parent Int64)
      PRIMARY KEY node SOURCE(CLICKHOUSE(TABLE 'cyc_src'))
      LAYOUT(FLAT()) LIFETIME(300)""")
    val r = Graft.sql(spark, """
      SELECT dictGetHierarchy('cyc_dict', 4) AS h4,
             dictGetHierarchy('cyc_dict', 1) AS h1,
             dictGetDescendants('cyc_dict', 3) AS d3
      FROM system.one""").collect().head
    assert(r.getSeq[Long](0) == Seq(4L, 3L, 1L, 2L)) // stops at the loop
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L)) // cycle visited once
    // descendants of 3: direct {1, 4}, then 1's subtree {2} minus the
    // cycle re-entry — every node reached exactly once
    assert(r.getSeq[Long](2).toSet == Set(1L, 2L, 4L))
  }

  test("wave 32: series decomposition, normalized gini, flattenTuple") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // pure linear series, no seasonality: interior seasonal ≈ 0,
    // interior residual ≈ 0, trend = the series (classical
    // decomposition is exact on a linear signal away from the edges)
    val r = Graft.sql(spark, """
      SELECT arrayElement(d, 1) AS s, arrayElement(d, 2) AS t,
             arrayElement(d, 3) AS e
      FROM (SELECT seriesDecomposeSTL(
              arrayMap(i -> toFloat64(2 * i + 5), range(20)), 4) AS d)""")
      .collect().head
    val (seas, tr, res) = (r.getSeq[Double](0), r.getSeq[Double](1),
      r.getSeq[Double](2))
    (2 until 18).foreach { i =>
      assert(math.abs(tr(i) - (2.0 * i + 5)) < 1e-9, s"trend @$i = ${tr(i)}")
      assert(math.abs(res(i)) < 1e-9, s"resid @$i = ${res(i)}")
    }
    assert(math.abs(seas.sum) < 1e-9) // seasonal is centered
    (0 until 20).foreach { i => // components recompose exactly
      assert(math.abs(seas(i) + tr(i) + res(i) - (2.0 * i + 5)) < 1e-9)
    }
    // gini: perfect ranking normalizes to 1, inverted to -1
    val g = Graft.sql(spark, """
      SELECT round(tupleElement(arrayNormalizedGini(
               [0.9, 0.1, 0.8, 0.2], [1.0, 0.0, 1.0, 0.0]), 3), 4) AS perfect,
             round(tupleElement(arrayNormalizedGini(
               [0.1, 0.9, 0.2, 0.8], [1.0, 0.0, 1.0, 0.0]), 3), 4) AS inverted
      FROM system.one""").collect().head
    assert(g.getDouble(0) == 1.0 && g.getDouble(1) == -1.0)
    val f = Graft.sql(spark,
      "SELECT flattenTuple(tuple(1, tuple(2, tuple(3, 'x')), 4)) AS f " +
        "FROM system.one").collect().head.getStruct(0)
    assert(f.size == 5 && f.getString(3) == "x")
  }

  test("wave 28: anova p on two groups equals the two-sided t p-value") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // F(1, n−2) = t²(n−2): the ANOVA p and the pooled-variance t-test
    // p must agree — two independent code paths (ibeta in the
    // Aggregator vs the studentTPValue UDF)
    val r = Graft.sql(spark, """
      SELECT tupleElement(analysisOfVariance(toFloat64(l_extendedprice),
               l_linenumber % 2), 1) AS f,
             tupleElement(analysisOfVariance(toFloat64(l_extendedprice),
               l_linenumber % 2), 2) AS p,
             tupleElement(studentTTest(toFloat64(l_extendedprice),
               l_linenumber % 2), 2) AS tp
      FROM lineitem""").collect().head
    assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-6,
      s"anova p ${r.getDouble(1)} vs t p ${r.getDouble(2)}")
  }

  test("wave 35: arrayRotateRight and the nano unix-timestamp pair") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT arrayRotateRight([1, 2, 3, 4, 5], 2) AS rr,
             arrayRotateRight([1, 2, 3], 7) AS rw,
             toUnixTimestamp64Nano(toDateTime64('2024-03-05 10:00:00.123', 3)) AS n,
             toString(fromUnixTimestamp64Nano(toInt64(1709632800123000000))) AS b
      """).collect().head
    assert(r.getSeq[Int](0) == Seq(4, 5, 1, 2, 3))
    // rotation count wraps modulo size (7 ≡ 1 mod 3)
    assert(r.getSeq[Int](1) == Seq(3, 1, 2))
    assert(r.getLong(2) == 1709632800123000000L) // µs precision × 1000
    assert(r.getString(3) == "2024-03-05 10:00:00.123")
  }

  test("wave 35: largestTriangleThreeBuckets parametric = the Lttb aggregator") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val got = Graft.sql(spark,
      "SELECT largestTriangleThreeBuckets(4)(toFloat64(n_nationkey), " +
        "toFloat64(n_regionkey)) AS s FROM nation")
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val data = Graft.sql(spark,
      "SELECT toFloat64(n_nationkey) AS x, toFloat64(n_regionkey) AS y FROM nation")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val agg = new graft.ops.Aggregates.Lttb(4)
    val want = agg.finish(data.foldLeft(agg.zero)(agg.reduce))
    assert(got.size == 4 && got == want)
    // endpoints always kept
    assert(got.head._1 == 0.0 && got.last._1 == 24.0)
  }

  test("wave 36: quarters, toIPv4 family, arrayAUCPR, explicit-scale decimal ops") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT toString(addQuarters(toDate('2024-01-15'), 2)) AS aq,
             toString(subtractQuarters(toDate('2024-01-15'), 1)) AS sq,
             toIPv4('192.168.1.1') AS ip,
             toIPv4OrZero('nope') AS ipz,
             toIPv4OrNull('nope') IS NULL AS ipn,
             round(arrayAUCPR([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]), 4) AS pr,
             round(arrayAUCPR([0.9, 0.8, 0.7], [1, 1, 1]), 4) AS prAll,
             toString(divideDecimal(toDecimal64(10.5, 2), toDecimal64(2.0, 2), 4)) AS dd,
             toString(multiplyDecimal(toDecimal64(1.5, 2), toDecimal64(2.5, 2), 3)) AS md
      """).collect().head
    assert(r.getString(0) == "2024-07-15" && r.getString(1) == "2023-10-15")
    assert(r.getLong(2) == ((192L << 24) | (168L << 16) | (1L << 8) | 1L))
    assert(r.getLong(3) == 0L && r.getBoolean(4))
    // step-rule AP: (0.5)(1) + (0.5)(2/3) = 0.8333…; all-positive = 1
    assert(r.getDouble(5) == 0.8333 && r.getDouble(6) == 1.0)
    assert(r.getString(7) == "5.2500" && r.getString(8) == "3.750")
    // the scale-less decimal forms refuse loudly instead of guessing
    val e = intercept[Exception](Graft.sql(spark,
      "SELECT divideDecimal(toDecimal64(1.0, 1), toDecimal64(2.0, 1)) AS x")
      .collect())
    assert(e.getMessage.contains("result_scale"))
  }

  test("wave 38: emptyArrayToSingle fills the ELEMENT type's default") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT emptyArrayToSingle(CAST([] AS Array(Int64))) AS ei,
             emptyArrayToSingle(CAST([] AS Array(String))) AS es,
             emptyArrayToSingle([7, 8]) AS keep
      """).collect().head
    assert(r.getSeq[Long](0) == Seq(0L))
    assert(r.getSeq[String](1) == Seq(""))
    assert(r.getSeq[Int](2) == Seq(7, 8))
    // non-array argument is rejected at analysis
    val e = intercept[Exception](Graft.sql(spark,
      "SELECT emptyArrayToSingle(5) AS x").collect())
    assert(e.getMessage.contains("expects an array"))
  }

  test("wave 38: -OrDefault combinator returns the aggregate's type default on empty sets") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT sumOrDefault(n_nationkey) AS s, maxOrDefault(n_name) AS m,
             avgOrDefault(toFloat64(n_nationkey)) AS a,
             minOrDefault(n_nationkey) AS mn
      FROM nation WHERE n_nationkey < 0""").collect().head
    assert(String.valueOf(r.get(0)) == "0")
    assert(r.getString(1) == "")
    assert(r.getDouble(2) == 0.0)
    assert(String.valueOf(r.get(3)) == "0") // min keeps the source int width
    // non-empty sets are untouched
    val r2 = Graft.sql(spark,
      "SELECT sumOrDefault(n_nationkey) AS s FROM nation").collect().head
    assert(String.valueOf(r2.get(0)) == "300") // 0+1+…+24
  }

  test("round 15 (ADVICE): rotate/shingles empty-array guards, bin arity") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // CH: rotating an empty array yields [] — the unguarded macro's
    // pmod(n, 0) was NULL, turning [] into NULL
    val r = Graft.sql(spark, """
      SELECT size(arrayRotateRight(CAST([] AS Array(Int64)), 2)) AS rr,
             size(arrayRotateLeft(CAST([] AS Array(Int64)), 2)) AS rl,
             arrayRotateRight([1, 2, 3, 4], 1) AS rr4,
             arrayRotateLeft([1, 2, 3, 4], 1) AS rl4,
             size(arrayShingles([1, 2], 3)) AS sh
      FROM (SELECT 1)""").collect().head
    assert(r.getInt(0) == 0 && r.getInt(1) == 0)
    assert(r.getSeq[Long](2) == Seq(4L, 1L, 2L, 3L))
    assert(r.getSeq[Long](3) == Seq(2L, 3L, 4L, 1L))
    // k > size: Spark's sequence(1, negative) DESCENDS — guarded to []
    assert(r.getInt(4) == 0)
    // bin() enforces its arity instead of ignoring extra args
    val e = intercept[Exception](
      Graft.sql(spark, "SELECT bin(1, 2) AS b").collect())
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("exactly one argument"), msg)
  }

  test("wave 40: byteSize widths, displayName, GK quantiles, soundex routing") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT byteSize(toInt64(1)) AS b8, byteSize(toInt32(1)) AS b4,
             byteSize(toInt16(1)) AS b2, byteSize(toFloat64(1.0)) AS bf,
             byteSize('abc') AS bs, byteSize(toDate('2024-01-01')) AS bd,
             byteSize('ü') AS bu, byteSize('München') AS bmu,
             byteSize(toDecimal64(1.5, 2)) AS bdec,
             displayName() AS dn,
             soundex('ClickHouse') AS sx,
             round(toFloat64(quantileGK(100, 0.5)(n_nationkey)), 2) AS gk
      FROM nation""").collect().head
    // (column indices below follow the SELECT order above)
    assert(r.getLong(0) == 8 && r.getLong(1) == 4 && r.getLong(2) == 2)
    assert(r.getLong(3) == 8)
    assert(r.getLong(4) == 3 + 9) // CH String size = BYTE length + 9
    assert(r.getLong(5) == 2)    // CH Date = UInt16 days
    assert(r.getLong(6) == 2 + 9) // 'ü' is 1 char but 2 utf8 BYTES
    assert(r.getLong(7) == 8 + 9) // 'München' = 7 chars, 8 bytes
    assert(r.getLong(8) == 8)    // Decimal64
    assert(r.getString(9) == "localhost")
    assert(r.getString(10) == "C422")
    val pt = Graft.sql(spark,
      "SELECT readWKTPoint('POINT (10.5 -3)').1 AS x, " +
        "readWKTPoint('POINT (10.5 -3)').2 AS y").collect().head
    assert(pt.getDouble(0) == 10.5 && pt.getDouble(1) == -3.0)
    assert(r.getDouble(11) == 12.0) // GK at accuracy 100 over 0..24 is exact
    // complex types refuse loudly instead of guessing CH's layout
    val e = intercept[Exception](
      Graft.sql(spark, "SELECT byteSize([1, 2]) AS b").collect())
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("byteSize"), msg)
    // arrayShingles refuses non-positive shingle lengths loudly (CH
    // rejects them as bad arguments; emitting size+1 empty shingles
    // would be a silent divergence)
    val e2 = intercept[Exception](
      Graft.sql(spark, "SELECT arrayShingles([1, 2, 3], 0) AS s").collect())
    val msg2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msg2.contains("positive"), msg2)
  }

  test("wave 38: LIMIT n OFFSET o BY equals the comma spelling") {
    Graft.init(spark, "/root/testdata/sf0.001")
    def rows(q: String) = Graft.sql(spark, q).collect()
      .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq
    val offsetForm = rows("""SELECT n_regionkey, n_nationkey FROM nation
      ORDER BY n_regionkey, n_nationkey LIMIT 2 OFFSET 1 BY n_regionkey""")
    val commaForm = rows("""SELECT n_regionkey, n_nationkey FROM nation
      ORDER BY n_regionkey, n_nationkey LIMIT 1, 2 BY n_regionkey""")
    assert(offsetForm.nonEmpty && offsetForm == commaForm)
  }

  test("wave 46 (r19): overlay byte/char split, toUnixTimestamp64Second, UUIDToNum, rank aliases") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark, """
      SELECT overlay('Spark SQL', 'ANSI ', 7, 0) AS o_insert,
             overlay('Spark SQL', 'CORE', 7) AS o_repl,
             overlay('héllo', 'XY', 2) AS o_bytes,
             overlayUTF8('héllo', 'X', 2) AS o_chars,
             toUnixTimestamp64Second(toDateTime('2009-02-13 23:31:30')) AS ts,
             toUnixTimestamp64Second(toDateTime64('2009-02-13 23:31:30.750', 3)) AS tsf,
             UUIDNumToString(UUIDToNum(toUUID('61F0C404-5CB3-11E7-907B-A6006AD3DBA0'))) AS u
      """).collect().head
    assert(r.getString(0) == "Spark ANSI SQL") // the CH-doc example
    assert(r.getString(1) == "Spark CORE")
    // plain overlay is BYTE-indexed (the session `length` policy):
    // 'é' is 2 utf8 bytes, so 'XY' at byte 2 replaces exactly them
    assert(r.getString(2) == "hXYllo")
    // overlayUTF8 is CHARACTER-indexed: 'X' replaces the 1-char 'é'
    assert(r.getString(3) == "hXllo")
    assert(r.getLong(4) == 1234567890L)
    assert(r.getLong(5) == 1234567890L) // fraction floors away
    assert(r.getString(6) == "61f0c404-5cb3-11e7-907b-a6006ad3dba0")
    // camelCase window aliases (24.7) — values vs the snake builtins
    val w = Graft.sql(spark, """
      SELECT denseRank() OVER (ORDER BY n_regionkey) AS dr,
             dense_rank() OVER (ORDER BY n_regionkey) AS dr0,
             percentRank() OVER (ORDER BY n_regionkey) AS pr,
             percent_rank() OVER (ORDER BY n_regionkey) AS pr0
      FROM nation ORDER BY n_nationkey""").collect()
    assert(w.nonEmpty && w.forall(x =>
      x.getInt(0) == x.getInt(1) && x.getDouble(2) == x.getDouble(3)))
    // snowflakeID second-precision spelling round-trips
    val s = Graft.sql(spark,
      """SELECT snowflakeIDToDateTime(dateTimeToSnowflakeID(
        |  toDateTime('2024-03-05 12:00:00'))) AS rt""".stripMargin)
      .collect().head
    assert(s.getTimestamp(0).toString.startsWith("2024-03-05 12:00:00"))
  }

  test("wave 46 (r19): distinctJSONPaths / distinctDynamicTypes / json_paths") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = Graft.sql(spark, """
        SELECT distinctJSONPaths(js) AS paths,
               distinctDynamicTypes(parse_json(dv)) AS types
        FROM (
          SELECT '{"k":1,"meta":{"p":"u","x":[1]}}' AS js, '1' AS dv
          UNION ALL SELECT '{"k":"s","extra":{"deep":{"d":true}}}', '"s"'
          UNION ALL SELECT 'not json', '[1,2]')""").collect().head
      // leaf paths: objects recursed, arrays/scalars are leaves,
      // invalid JSON contributes nothing; sorted distinct
      assert(r.getSeq[String](0) ==
        Seq("extra.deep.d", "k", "meta.p", "meta.x"))
      assert(r.getSeq[String](1) == Seq("ARRAY<BIGINT>", "BIGINT", "STRING"))
      val n = Graft.sql(spark,
        "SELECT json_paths(CAST(NULL AS STRING)) AS p, json_paths('3') AS s")
        .collect().head
      assert(n.isNullAt(0))            // NULL in → NULL out
      assert(n.getSeq[String](1).isEmpty) // scalar root → no paths
    } finally prev match {
      case Some(v) => conf.set("spark.sql.codegen.fallback", v)
      case None => conf.unset("spark.sql.codegen.fallback")
    }
  }
}
