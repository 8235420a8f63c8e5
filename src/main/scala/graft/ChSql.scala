package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Relational
import graft.plans.LimitByPlan

import scala.util.matching.Regex

/** Clause-level ClickHouse SQL: the clauses Spark's parser has no
  * syntax for are parsed out of a verbatim CH query string here and
  * routed onto the already-proven operators
  * (ClickHouse/docs/en/sql-reference/statements/select — LIMIT BY,
  * ORDER BY WITH FILL, SAMPLE, GROUP BY WITH TOTALS):
  *
  *   - `FROM t SAMPLE f`          → deterministic md5-hash threshold
  *     subquery (same contract as `rel_sample_hash`: bottom `f` of the
  *     60-bit hash space of the table's sampling key — repeatable
  *     across runs, engines and cluster sizes, unlike rand()).
  *   - `GROUP BY k… WITH TOTALS`  → `GROUP BY GROUPING SETS ((k…),
  *     ())` — the totals block as one extra all-NULL-keys row,
  *     matching `agg_with_totals`' relational emulation.
  *   - `ORDER BY x WITH FILL [FROM a TO b STEP s]`
  *                                → [[Relational.withFillStep]] on a
  *     numeric axis / [[Relational.withFillDays]] on a bare DATE axis;
  *     non-axis columns fill with their type defaults (0 / '' /
  *     false), CH's default-value fill.
  *   - `LIMIT [o,] n BY k…`       → [[LimitByPlan.limitBy]] (the
  *     custom partial/final physical operator), ordered by the
  *     query's ORDER BY — CH applies LIMIT BY after ORDER BY; the
  *     offset form routes to the window implementation.
  *   - `… WITH FILL … INTERPOLATE (c…)` → fill those columns with
  *     NULL, then carry the previous value forward (LOCF) over the
  *     bounded filled series.
  *   - trailing `LIMIT n` / `LIMIT n OFFSET o` / CH's `LIMIT o, n`
  *     → `.offset(o).limit(n)` after the above.
  *   - scalar `WITH 3600 AS period SELECT …` (constant and
  *     scalar-subquery aliases) → substituted as parenthesized
  *     expressions; true CTEs pass through to Spark's WITH.
  *   - `[LEFT] ARRAY JOIN e AS x` → `LATERAL VIEW explode[_outer]`;
  *     `PREWHERE` → WHERE conjunction; `GLOBAL`/`ALL` join modifiers
  *     strip; trailing `FORMAT x` drops; `ORDER BY` ordinals resolve
  *     positionally.
  *   - `ASOF [LEFT] JOIN … ON a.k = b.k AND a.ts >= b.ts` and
  *     `[LEFT] ANY JOIN … ON a.k = b.k` → [[graft.ops.Joins]]
  *     (union+window ASOF, right-dedup ANY) via a temp view, with
  *     `alias.col` references re-targeted (see rewriteSpecialJoins).
  *   - `INSERT INTO t …` → one new immutable parquet part, the temp
  *     view repointed to the table's part list; `ALTER TABLE t
  *     DELETE/UPDATE … WHERE …` → all parts rewritten into one
  *     ([[graft.ops.Mutations]]).
  *
  * Scope (documented, loud failures otherwise): the CH clauses are
  * recognized at the top level of a single SELECT; ORDER BY items
  * routed to LIMIT BY / WITH FILL must be plain column references
  * (alias complex sort expressions in the SELECT list, then sort by
  * the alias). Queries using none of the DataFrame-level clauses go
  * through `spark.sql` untouched, so the whole registry-level dialect
  * ([[graft.functions.ChDialect]]) keeps working unchanged.
  *
  * Everything here is string → logical plan rewriting on the driver;
  * the executed plans are exactly the operators' plans, so the scale
  * story (broadcast series joins, partial limit-by below the
  * exchange, hash-threshold scan predicate) is unchanged.
  */
object ChSql {

  // ---- lexical scanning ------------------------------------------

  /** mask(i) = char i is at paren depth 0, outside a '…' literal and
    * outside a `--` line comment (SQL lexes `--` as a comment even
    * mid-expression, so apostrophes inside one must not open a
    * string and keywords inside one must not route).
    */
  private def topLevelMask(s: String): Array[Boolean] = {
    val ok = new Array[Boolean](s.length)
    var depth = 0
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        ok(i) = false
        if (c == '\'') inStr = false
        i += 1
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') { ok(i) = false; i += 1 }
      } else {
        c match {
          case '\'' => inStr = true; ok(i) = false
          case '(' => depth += 1; ok(i) = false
          case ')' => depth -= 1; ok(i) = depth == 0
          case _ => ok(i) = depth == 0
        }
        i += 1
      }
    }
    ok
  }

  /** Mask for alias substitution inside a WHERE body: true where a
    * bare identifier is substitutable — i.e. outside strings/comments
    * AND outside subquery parens (a paren group whose first token is
    * SELECT/WITH keeps its own scope). Plain grouping parens stay
    * substitutable at any depth, matching CH's alias resolution.
    */
  private def whereSubstMask(s: String): Array[Boolean] = {
    val ok = new Array[Boolean](s.length)
    var inStr = false
    var quote = '\u0000'       // which quote opened the current span
    var subqDepth = 0          // >0 while inside a subquery paren group
    val stack = new scala.collection.mutable.ArrayDeque[Boolean]()
    // keyword followed by an identifier char is NOT that keyword:
    // `(withdrawal > 1)` must not read as a (WITH …) subquery
    def kw(j: Int, word: String): Boolean =
      s.regionMatches(true, j, word, 0, word.length) && {
        val k = j + word.length
        k >= s.length || {
          val c = s.charAt(k)
          !(c.isLetterOrDigit || c == '_' || c == '$')
        }
      }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        ok(i) = false
        if (c == quote) inStr = false
        i += 1
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') { ok(i) = false; i += 1 }
      } else {
        c match {
          // backtick/double-quoted IDENTIFIER spans are opaque too — a
          // quoted name must never be alias-substituted
          case '\'' | '`' | '"' => inStr = true; quote = c; ok(i) = false
          case '(' =>
            var j = i + 1
            while (j < s.length && s.charAt(j).isWhitespace) j += 1
            val isSubq = kw(j, "SELECT") || kw(j, "WITH")
            stack.prepend(isSubq)
            if (isSubq) subqDepth += 1
            ok(i) = false
          case ')' =>
            if (stack.nonEmpty && stack.removeHead()) subqDepth -= 1
            ok(i) = false
          case _ => ok(i) = subqDepth == 0
        }
        i += 1
      }
    }
    ok
  }

  private def lastTopLevel(s: String, re: Regex): Option[Regex.Match] = {
    val mask = topLevelMask(s)
    re.findAllMatchIn(s).filter(m => mask(m.start)).foldLeft(
      Option.empty[Regex.Match])((_, m) => Some(m))
  }

  /** Split on commas at depth 0 (relative to the fragment). */
  private def splitTopLevel(s: String): Seq[String] = {
    val mask = topLevelMask(s)
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ',' && mask(i)) { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ---- textual pre-rewrites (stay inside Spark SQL) ----------------

  /** CH resolves SELECT-list aliases inside WHERE/PREWHERE (the alias
    * SHADOWS a same-named column); Spark resolves WHERE against the
    * relation only. For a single top-level SELECT carrying a WHERE,
    * substitute `alias` → `(expr)` for every `expr AS alias` item
    * whose alias appears bare at the filter's top level. Subqueries
    * and set operations are left untouched (their scopes are theirs).
    */
  private val selItemAliasRe =
    """(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$""".r
  private val clauseKwRe =
    ("""(?i)\b(SELECT|FROM|WHERE|PREWHERE|GROUP|HAVING|QUALIFY|ORDER|""" +
      """LIMIT|SETTINGS|UNION|INTERSECT|EXCEPT|WINDOW)\b""").r

  private def rewriteWhereAliases(q0: String): String = {
    val mask = topLevelMask(q0)
    val kws = clauseKwRe.findAllMatchIn(q0).filter(m => mask(m.start)).toList
    def of(names: String*) = kws.filter(m =>
      names.contains(m.group(1).toUpperCase(java.util.Locale.ROOT)))
    val selects = of("SELECT"); val froms = of("FROM")
    val wheres = of("WHERE", "PREWHERE")
    if (selects.size != 1 || froms.isEmpty || wheres.isEmpty) return q0
    if (of("UNION", "INTERSECT", "EXCEPT").nonEmpty) return q0
    val aliases = splitTopLevel(
      q0.substring(selects.head.end, froms.head.start)).flatMap {
      case selItemAliasRe(expr, alias)
        // SELF-REFERENTIAL renames (`x + 1 AS x`) stay on column
        // semantics: substituting would turn a filter on the column
        // into a filter on the shifted value (CH rejects the cyclic
        // alias outright; plain-rename `x AS x` is a no-op either way)
        if ("""(?i)(?<![\w.])""" + java.util.regex.Pattern.quote(alias) +
          """(?![\w.])""").r.findFirstIn(expr).isEmpty =>
        Some(alias -> expr.trim)
      case _ => None
    }.toMap
    if (aliases.isEmpty) return q0
    var q = q0
    wheres.sortBy(-_.start).foreach { w =>
      val spanEnd = kws.find(m => m.start > w.start &&
        Set("GROUP", "HAVING", "QUALIFY", "ORDER", "LIMIT", "SETTINGS",
          "WINDOW")(m.group(1).toUpperCase(java.util.Locale.ROOT)))
        .map(_.start).getOrElse(q0.length)
      var span = q0.substring(w.end, spanEnd)
      aliases.foreach { case (a, e) =>
        val aRe = ("""(?i)(?<![\w.])""" +
          java.util.regex.Pattern.quote(a) + """(?![\w.(])""").r
        // Substitute at EVERY paren depth of the filter body —
        // `WHERE (alias > 1 AND x)` resolves the alias in CH just
        // like the unparenthesized form. Only strings/comments and
        // subquery bodies are off-limits (a subquery's scope is its
        // own). Quoted/backtick aliases are not substituted (the
        // SELECT-item regex only captures bare identifiers).
        val smask = whereSubstMask(span)
        span = aRe.replaceAllIn(span, m =>
          if (smask(m.start)) Regex.quoteReplacement(s"($e)")
          else Regex.quoteReplacement(m.matched))
      }
      q = q.substring(0, w.end) + span + q.substring(spanEnd)
    }
    q
  }

  /** ClickHouse's `dateDiff('day', a, b)` cannot be a registry
    * function: Spark's PARSER special-cases 3-arg datediff as
    * timestampdiff and rejects quoted units before resolution ever
    * runs, so the quoted-unit spelling (unambiguously CH) is rewritten
    * to the registry-resolvable chDateDiff.
    */
  private val dateDiffRe = """(?i)\bdate_?diff\s*\(\s*('[a-z]+')""".r

  /** `GROUP BY k… WITH TOTALS` — the `(?!…GROUP BY…)` guard pins the
    * match to the LAST `GROUP BY` before each `WITH TOTALS`, so
    * subquery GROUP BYs without TOTALS are never swallowed.
    */
  private val totalsRe =
    """(?is)\bGROUP\s+BY\s+((?:(?!\bGROUP\s+BY\b).)+?)\s+WITH\s+TOTALS\b""".r

  /** `FROM t SAMPLE 0.1` / `FROM t SAMPLE 1/10` /
    * `FROM t SAMPLE 0.1 OFFSET 0.5` — OFFSET shifts the hash window,
    * so disjoint offsets give disjoint samples (CH's split-traffic
    * idiom, e.g. A/B halves).
    */
  private val sampleRe =
    """(?i)\bFROM\s+([A-Za-z_]\w*)\s+SAMPLE\s+(\d+(?:\.\d+)?(?:\s*/\s*\d+(?:\.\d+)?)?)(?:\s+OFFSET\s+(\d+(?:\.\d+)?(?:\s*/\s*\d+(?:\.\d+)?)?))?""".r

  /** CH declares the sampling key in the table's DDL (`SAMPLE BY
    * intHash32(key)`); the fixture tables' natural keys stand in.
    * Extend via [[registerSampleKey]] for user tables.
    */
  private val sampleKeys = scala.collection.concurrent.TrieMap(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  def registerSampleKey(table: String, key: String): Unit =
    sampleKeys.put(table.toLowerCase(java.util.Locale.ROOT), key)

  /** Above this n, absolute `SAMPLE n` switches from the exact-n
    * top-k path (TakeOrdered — driver-side merge proportional to n,
    * a scale hazard for large n) to CH's own documented semantics:
    * APPROXIMATELY n rows via a hash-threshold scan filter. The
    * cutoff is ceil(2^60 · n / count(*)) on the 60-bit md5 sampling
    * hash, computed by an uncorrelated scalar subquery (one count
    * aggregate, satisfied from parquet footers) — no TakeOrdered, no
    * global sort, no single-partition stage, deterministic at any
    * parallelism (the set depends only on table contents). Row count
    * is n ± binomial noise (~√n), exactly CH's "SAMPLE n reads
    * approximately n rows" contract; below the threshold the exact-n
    * contract is kept since a small top-k is cheap everywhere.
    */
  @volatile var sampleNApproxThreshold: Long = 10000L

  /** Base directory for relative `file('…')` table-function paths —
    * the analog of CH's `user_files_path`. `Graft.init` points it at
    * the fixture dir; absolute paths bypass it.
    */
  def setDataDir(spark: SparkSession, dir: String): Unit =
    SessionCache(spark).dataDir = Some(dir)

  // ---- CH external dictionaries ------------------------------------
  // CH dictionaries are fully in-RAM key→attribute structures
  // refreshed from a source table [ClickHouse/docs dictGet]; the
  // faithful Spark analog is a literal map baked into the expression
  // tree — the dictionary itself ships with the plan to every
  // executor, exactly as CH replicates dictionaries to every server.
  // Capped (CH RAM-bounds dictionaries too); larger lookups belong on
  // the broadcast-join pattern (scalar_dictget).
  case class DictSpec(source: String, keyCol: String,
    keyType: DataType,
    keysLit: org.apache.spark.sql.catalyst.expressions.Literal,
    attrs: Map[String, (DataType,
      org.apache.spark.sql.catalyst.expressions.Literal)])

  private[graft] val dictionaries =
    scala.collection.concurrent.TrieMap[String, DictSpec]()

  private val dictCap = 1000000

  private val createDictRe =
    ("""(?is)^\s*CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """([A-Za-z_]\w*)\s*\((.*?)\)\s*PRIMARY\s+KEY\s+([A-Za-z_]\w*)\b(.*)$""").r
  private val dropDictRe =
    """(?is)^\s*DROP\s+DICTIONARY\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*$""".r
  private val dictSourceTableRe =
    """(?i)SOURCE\s*\(\s*\w+\s*\([^)]*?TABLE\s+'?([A-Za-z_]\w*)'?""".r

  private[graft] def runCreateDictionary(spark: SparkSession,
      m: Regex.Match): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val name = m.group(1)
    val keyCol = m.group(3)
    val src = dictSourceTableRe.findFirstMatchIn(m.group(4)).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        "CREATE DICTIONARY needs SOURCE(…(TABLE 'name'))"))
    val colRe = """^([A-Za-z_]\w*)\s+([A-Za-z0-9_]+(?:\s*\([^)]*\))?)""".r
    val specs = splitTopLevel(m.group(2)).map { item =>
      colRe.findFirstMatchIn(item.trim).map(mm =>
        mm.group(1) -> chType(mm.group(2))).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE DICTIONARY column spec 'name Type' expected, got '$item'"))
    }
    require(specs.exists(_._1 == keyCol),
      s"PRIMARY KEY $keyCol is not among the dictionary columns")
    val attrCols = specs.filterNot(_._1 == keyCol)
    // cast to the DECLARED types so the literal map's values match
    // its MapType exactly
    val ordered = specs.find(_._1 == keyCol).get +: attrCols
    val rows = spark.table(src)
      .select(ordered.map { case (n, t) => col(n).cast(t).as(n) }: _*)
      .na.drop(Seq(keyCol)).take(dictCap + 1)
    require(rows.length <= dictCap,
      s"dictionary $name exceeds $dictCap entries — use the broadcast-join " +
        "pattern (LEFT JOIN the source table) for lookups at that size")
    val keyType = specs.find(_._1 == keyCol).get._2
    val keysLit = Literal.create(rows.map(_.get(0)).toSeq, ArrayType(keyType))
    val attrs = attrCols.zipWithIndex.map { case ((aName, aType), i) =>
      val lookup = rows.iterator.map(r => r.get(0) -> r.get(i + 1)).toMap
      aName -> (aType, Literal.create(lookup, MapType(keyType, aType)))
    }.toMap
    dictionaries.put(name, DictSpec(src, keyCol, keyType, keysLit, attrs))
    import spark.implicits._
    Seq((name, src, rows.length)).toDF("dictionary", "source", "entries")
  }

  private def parseFraction(s: String): Double = s.split('/') match {
    case Array(one) => one.trim.toDouble
    case Array(num, den) => num.trim.toDouble / den.trim.toDouble
  }

  private def rewriteSample(q: String): String =
    maskedReplaceAll(q, sampleRe) { m =>
      val table = m.group(1)
      val fTxt = m.group(2).trim
      // CH's ABSOLUTE form `SAMPLE n` (n > 1 row count): CH reads
      // "approximately n rows" off sampling-key ranges; the
      // deterministic reinterpretation here is the n hash-SMALLEST
      // rows (TakeOrdered on the sampling hash, key tiebreak) —
      // exactly n rows, identical at any parallelism, and the same
      // subset CH's hash-range sampling converges toward.
      val key = sampleKeys.getOrElse(table.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
          s"no sampling key registered for table '$table' — ChSql.registerSampleKey first"))
      if (m.group(3) == null && fTxt.matches("\\d+") && fTxt.toLong > 1) {
        val n = fTxt.toLong
        val h2 = s"CAST(conv(substring(md5(concat('smp|', " +
          s"CAST($key AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        if (n > sampleNApproxThreshold) {
          // large n: hash-threshold filter (see sampleNApproxThreshold)
          // — 2^60 = full span of the 15-hex-digit hash. The double
          // product/division is the same IEEE sequence an oracle
          // engine evaluates from identical text, so the cutoff (and
          // hence the sampled set) is engine-identical.
          // least(..., 2^60) clamp: n ≫ rowcount would otherwise push
          // ceil past BIGINT range, where Spark saturates but DuckDB
          // errors — divergent engines on identical text. Clamped at
          // the full hash span the predicate passes every row, which
          // is CH's behavior for an oversized absolute SAMPLE.
          val cutoff = s"(SELECT CAST(least(ceil(1152921504606846976e0 * $n " +
            s"/ count(*)), 1152921504606846976e0) AS BIGINT) FROM $table)"
          Regex.quoteReplacement(
            s"FROM (SELECT * FROM $table WHERE $h2 < $cutoff) $table")
        } else Regex.quoteReplacement(
          s"FROM (SELECT * FROM $table ORDER BY $h2, $key LIMIT $n) $table")
      } else {
        val f = parseFraction(m.group(2))
        val off = Option(m.group(3)).map(parseFraction).getOrElse(0.0)
        require(f > 0 && f <= 1, s"SAMPLE fraction must be in (0, 1], got $f")
        require(off >= 0 && off + f <= 1,
          s"SAMPLE OFFSET window [$off, ${off + f}) must fit in [0, 1)")
        val lo = math.round(off * 1000000d)
        val hi = math.round((off + f) * 1000000d)
        // Text.mh60(lit("smp"), key) spelled in SQL — identical bits to
        // rel_sample_hash's oracle-proven predicate.
        val h = s"CAST(conv(substring(md5(concat('smp|', CAST($key AS STRING))), 1, 15), 16, 10) AS BIGINT)" +
          s" % 1000000"
        val pred = if (lo == 0L) s"$h < $hi" else s"$h >= $lo AND $h < $hi"
        Regex.quoteReplacement(
          s"FROM (SELECT * FROM $table WHERE $pred) $table")
      }
    }

  /** CH's comma limit `LIMIT o, n` → ANSI `LIMIT n OFFSET o` (Spark's
    * parser speaks the latter). The lookahead keeps `LIMIT o, n BY`
    * intact — that form is routed, not parsed by Spark.
    */
  private val commaLimitRe =
    """(?i)\bLIMIT\s+(\d+)\s*,\s*(\d+)\b(?!\s*BY\b)""".r

  /** Clause boundary keywords — where an embedded CH clause's
    * expression list ends if no explicit terminator appears first.
    */
  private val boundaryRe =
    """(?i)\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|INTERSECT|EXCEPT)\b""".r

  private def firstTopLevel(s: String, re: Regex): Option[Regex.Match] = {
    val mask = topLevelMask(s)
    re.findAllMatchIn(s).find(m => mask(m.start))
  }

  /** `[LEFT] ARRAY JOIN <arrayExpr> AS <alias>` → `LATERAL VIEW
    * explode[_outer](<arrayExpr>) AS <alias>` — the expression runs to
    * the LAST top-level `AS` before the next clause boundary (CAST's
    * inner AS sits behind parens, so the mask skips it). CH's
    * multi-array zip form (comma list) is rejected loudly.
    */
  private val arrayJoinRe = """(?i)\b(LEFT\s+)?ARRAY\s+JOIN\b""".r
  private val asRe = """(?i)\bAS\b""".r

  private def rewriteArrayJoin(q0: String): String = {
    var q = q0
    var m = firstTopLevel(q, arrayJoinRe)
    while (m.isDefined) {
      val mm = m.get
      val outer = mm.group(1) != null
      val after = q.substring(mm.end)
      val end = firstTopLevel(after, boundaryRe).map(_.start).getOrElse(after.length)
      val segment = after.substring(0, end)
      // each top-level comma item is `expr AS alias`; multiple items
      // ZIP positionally (CH contract: equal sizes — a mismatched
      // companion raises the same hard error CH does, both directions)
      val items = splitTopLevel(segment).map { item =>
        val imask = topLevelMask(item)
        val asM = asRe.findAllMatchIn(item).filter(x => imask(x.start)).toSeq
        require(asM.nonEmpty,
          s"ARRAY JOIN needs 'expr AS alias', got '${item.trim}'")
        val lastAs = asM.last
        val arrExpr = item.substring(0, lastAs.start).trim
        val alias = item.substring(lastAs.end).trim
        require(alias.matches("[A-Za-z_]\\w*"),
          s"ARRAY JOIN alias must be an identifier, got '$alias'")
        (arrExpr, alias)
      }
      val repl =
        if (items.size == 1) {
          val fn = if (outer) "explode_outer" else "explode"
          s"LATERAL VIEW $fn(${items.head._1}) AS ${items.head._2} "
        } else {
          // zip via ONE positional explode of the first array, then
          // 1-element explodes materializing each other item at the
          // shared index — chained lateral views see earlier columns
          val fn = if (outer) "posexplode_outer" else "posexplode"
          val idx = s"__aj_idx_${sysSeq.incrementAndGet()}"
          val head =
            s"LATERAL VIEW $fn(${items.head._1}) AS $idx, ${items.head._2} "
          val first = items.head._1
          val rest = items.tail.map { case (e, a) =>
            // equal-size guard BEFORE the subscript: under ANSI mode a
            // short companion's element_at would throw an index error
            // and a long one would silently truncate — CH raises a
            // size-mismatch error in both directions, so we do too.
            // NULL arrays (outer form) pass through as NULL rows.
            s"LATERAL VIEW explode(array(CASE " +
              s"WHEN ($first) IS NULL AND ($e) IS NULL THEN NULL " +
              s"WHEN size($e) = size($first) THEN element_at($e, $idx + 1) " +
              s"ELSE raise_error(concat('ARRAY JOIN: sizes of arrays do not" +
              s" match: ', CAST(size($first) AS STRING), ' vs ', " +
              s"CAST(size($e) AS STRING))) END)) AS $a "
          }.mkString
          head + rest
        }
      q = q.substring(0, mm.start) + repl + after.substring(end)
      m = firstTopLevel(q, arrayJoinRe)
    }
    q
  }

  /** `PREWHERE a [WHERE b]` → `WHERE (a) AND (b)` — Spark's own scan
    * pushdown IS the PREWHERE optimization, so only the spelling needs
    * translating.
    */
  private val prewhereRe = """(?i)\bPREWHERE\b""".r
  private val whereRe = """(?i)\bWHERE\b""".r

  private def rewritePrewhere(q: String): String =
    firstTopLevel(q, prewhereRe) match {
      case None => q
      case Some(m) =>
        val after = q.substring(m.end)
        val end = firstTopLevel(after, boundaryRe).map(_.start).getOrElse(after.length)
        val cond = after.substring(0, end).trim
        val tail = after.substring(end)
        firstTopLevel(tail, whereRe) match {
          case Some(w) => // PREWHERE a WHERE b → WHERE (a) AND (b)
            val afterW = tail.substring(w.end)
            val wEnd = firstTopLevel(afterW, boundaryRe).map(_.start)
              .getOrElse(afterW.length)
            q.substring(0, m.start) +
              s"WHERE ($cond) AND (${afterW.substring(0, wEnd).trim}) " +
              afterW.substring(wEnd)
          case None =>
            q.substring(0, m.start) + s"WHERE $cond " + tail
        }
    }

  /** CH's SCALAR WITH (`WITH 3600 AS period SELECT …`): constant
    * expression aliases usable anywhere in the query — not SQL CTEs
    * (`WITH name AS (SELECT …)`, which Spark parses natively and we
    * leave untouched). Each alias substitutes as a parenthesized
    * expression at every identifier occurrence outside string
    * literals, which is exactly CH's alias-precedence behavior.
    */
  private val withStartRe = """(?is)^\s*WITH\b""".r
  private val selectKwRe = """(?i)\bSELECT\b""".r

  private def rewriteScalarWith(q: String): String = {
    val withKw = withStartRe.findFirstMatchIn(q).getOrElse(return q)
    // the body starts at the first TOP-LEVEL SELECT (a scalar-subquery
    // alias like `(SELECT max(x) FROM t) AS m` hides its SELECT behind
    // the paren mask)
    val sel = firstTopLevel(q, selectKwRe).getOrElse(return q)
    val items = q.substring(withKw.end, sel.start).trim
    val body = q.substring(sel.start)
    if (items.isEmpty) q
    else {
      val parts = splitTopLevel(items)
      // An item is scalar iff it ENDS with `AS <ident>` — true CTEs
      // (`ident AS (SELECT …)`) end with ')' and fall through to
      // Spark's own WITH. A scalar-subquery alias
      // (`(SELECT max(x) FROM t) AS m`) substitutes like any scalar.
      val itemRe = """(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)$""".r
      val scalars = parts.map {
        case itemRe(expr, ident) => Some(ident -> expr.trim)
        case _ => None
      }
      if (scalars.exists(_.isEmpty)) q // CTE list — Spark handles it
      else scalars.flatten.foldLeft(body) { case (acc, (ident, expr)) =>
        // whole-word replacement outside string literals
        val inStr = {
          val f = new Array[Boolean](acc.length)
          var s = false
          var i = 0
          while (i < acc.length) {
            if (acc.charAt(i) == '\'') s = !s
            f(i) = s
            i += 1
          }
          f
        }
        val re = s"""(?i)\\b${Regex.quote(ident)}\\b""".r
        val sb = new StringBuilder
        var last = 0
        for (m <- re.findAllMatchIn(acc) if !inStr(m.start)) {
          sb.append(acc.substring(last, m.start)).append(s"($expr)")
          last = m.end
        }
        sb.append(acc.substring(last))
        sb.toString
      }
    }
  }

  /** Distribution/strictness modifiers Spark's planner owns: GLOBAL
    * (shuffle-vs-broadcast is the optimizer's call) and the ALL join
    * qualifier (standard join semantics) are stripped; ANY JOIN
    * changes semantics and fails loudly toward the library operator.
    */
  private val globalRe =
    """(?i)\bGLOBAL\s+(?=(INNER|LEFT|RIGHT|FULL|CROSS|JOIN|IN|NOT)\b)""".r
  private val allJoinRe = """(?i)\bALL\s+(?=(INNER|LEFT|RIGHT|FULL)\b)""".r
  private val anyJoinRe = """(?i)\bANY\s+(INNER|LEFT|RIGHT|FULL|JOIN)\b""".r

  /** Trailing `FORMAT <name>` (output formatting is the caller's
    * concern — a DataFrame has no serialization format).
    */
  private val formatRe = """(?i)\bFORMAT\s+\w+\s*$""".r

  // ---- system tables / numbers() table function --------------------
  // CH's introspection surface: `numbers(N)` and `system.numbers`
  // rewrite onto Spark's lazy `range()` TVF (a parallel split-able
  // source — the DSv2 NumbersSource covers the programmatic path),
  // `system.one` onto the canonical 1-row/`dummy` relation, and
  // `system.tables` onto a snapshot of the live catalog registered as
  // a temp view (captured BEFORE registration so the view doesn't
  // list itself on first use).
  private val numbersFnRe =
    """(?i)\bnumbers\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r
  private val systemNumbersRe = """(?i)\bsystem\.numbers\b""".r
  private val systemOneRe = """(?i)\bsystem\.one\b""".r
  private val systemTablesRe = """(?i)\bsystem\.tables\b""".r
  private val systemColumnsRe = """(?i)\bsystem\.columns\b""".r
  private val systemPartsRe = """(?i)\bsystem\.parts\b""".r
  private val systemFunctionsRe = """(?i)\bsystem\.functions\b""".r
  private val systemDatabasesRe = """(?i)\bsystem\.databases\b""".r
  private val systemSettingsRe = """(?i)\bsystem\.settings\b""".r
  private val queryLogRe = """(?i)\bsystem\.query_log\b""".r
  private val sysSeq = new java.util.concurrent.atomic.AtomicLong()

  // file('path'[, 'Format']) — CH's local-file table function. The
  // path resolves against the registered data dir (CH's
  // user_files_path analog) unless absolute; format comes from the
  // explicit argument or the extension. Reads register as temp views
  // so the source is a normal pruned/pushed-down scan.
  private val fileFnRe =
    """(?i)\bfile\s*\(\s*'([^']+)'\s*(?:,\s*'([A-Za-z]+)'\s*)?\)""".r

  // generateRandom('a Int64, b String'[, seed]) — CH's synthetic-data
  // table function. Deterministic md5-derived values (seed + column +
  // row id), never rand(): identical output at any parallelism. Like
  // CH, the stream is unbounded — callers LIMIT it; range() generates
  // lazily so the limit short-circuits.
  private val generateRandomRe =
    """(?i)\bgenerateRandom\s*\(\s*'([^']+)'\s*(?:,\s*(\d+)\s*)?[^()]*\)""".r

  private def generateColumnSql(name: String, chT: String, seed: Long): String = {
    val h = s"md5(concat('g${seed}_${name}_', id))"
    def hex(n: Int) = s"conv(substring($h, 1, $n), 16, 10)"
    chType(chT) match {
      case ByteType => s"CAST(CAST(${hex(2)} AS INT) - 128 AS TINYINT)"
      case ShortType => s"CAST(CAST(${hex(3)} AS INT) - 2048 AS SMALLINT)"
      case IntegerType => s"CAST(CAST(${hex(7)} AS BIGINT) - 134217728 AS INT)"
      case LongType => s"CAST(${hex(15)} AS BIGINT)"
      case FloatType => s"CAST(CAST(${hex(6)} AS DOUBLE) / 1024.0 AS FLOAT)"
      case DoubleType => s"CAST(${hex(8)} AS DOUBLE) / 65536.0"
      case StringType => s"substring($h, 1, 10)"
      case BooleanType => s"CAST(${hex(1)} AS INT) % 2 = 1"
      case DateType =>
        s"date_add(DATE'2000-01-01', CAST(${hex(3)} AS INT))"
      case TimestampType =>
        s"timestamp_seconds(946684800 + CAST(${hex(7)} AS BIGINT))"
      case other => throw new IllegalArgumentException(
        s"generateRandom: unsupported type $chT for column $name " +
          "(scalar Int/UInt/Float/String/Bool/Date/DateTime only)")
    }
  }

  // remote-source table functions need egress this environment does
  // not have — fail with guidance instead of Spark's bare
  // unresolved-TVF error
  private val egressTfRe =
    """(?i)\bFROM\s+(url|s3|s3Cluster|remote|remoteSecure|hdfs|azureBlobStorage|gcs|deltaLake|iceberg|mysql|postgresql|mongodb|redis)\s*\(""".r

  private def rewriteSystemTables(spark: SparkSession, q0: String): String = {
    var q = q0
    egressTfRe.findFirstMatchIn(q).foreach { m =>
      if (!inStringMask(q)(m.start))
        throw new IllegalArgumentException(
          s"table function '${m.group(1)}' needs a remote source this " +
            "environment cannot reach — use file('path'[, 'Format']) " +
            "against the local data directory instead")
    }
    if (fileFnRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = fileFnRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement {
          val p0 = m.group(1)
          val path =
            if (p0.startsWith("/")) p0
            else SessionCache(spark).dataDir.map(d => s"$d/$p0").getOrElse(p0)
          val fmt = Option(m.group(2))
            .map(_.toLowerCase(java.util.Locale.ROOT))
            .getOrElse(p0.replaceAll(".*\\.", "").toLowerCase(java.util.Locale.ROOT))
          val df = fmt match {
            case "parquet" => spark.read.parquet(path)
            case "orc" => spark.read.orc(path)
            case "csv" => spark.read.csv(path)
            case "csvwithnames" =>
              spark.read.option("header", "true").option("inferSchema", "true").csv(path)
            case "tsv" | "tabseparated" =>
              spark.read.option("sep", "\t").csv(path)
            case "tsvwithnames" | "tabseparatedwithnames" =>
              spark.read.option("sep", "\t").option("header", "true")
                .option("inferSchema", "true").csv(path)
            case "jsoneachrow" | "ndjson" | "json" => spark.read.json(path)
            case other => throw new IllegalArgumentException(
              s"file(): unsupported format '$other' " +
                "(Parquet/ORC/CSV[WithNames]/TSV[WithNames]/JSONEachRow)")
          }
          val view = s"graft_file_${sysSeq.incrementAndGet()}"
          df.createOrReplaceTempView(view)
          s"$view"
        })
    }
    // FROM format('Fmt', '…inline data…') — CH's inline-data table
    // function (the scalar format() with {} placeholders is untouched:
    // this only fires in FROM position with a known format name)
    val formatTfRe =
      """(?i)\bFROM\s+format\s*\(\s*'(\w+)'\s*,\s*'((?:[^']|'')*)'\s*\)""".r
    if (formatTfRe.findFirstIn(q).isDefined) {
      q = maskedReplaceAll(q, formatTfRe) { m =>
        import spark.implicits._
        val fmt = m.group(1).toLowerCase(java.util.Locale.ROOT)
        val data = m.group(2).replace("''", "'")
        val lines = data.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
        val ds = spark.createDataset(lines)
        val df = fmt match {
          case "jsoneachrow" | "ndjson" => spark.read.json(ds)
          case "csv" => spark.read.csv(ds)
          case "csvwithnames" =>
            spark.read.option("header", "true").option("inferSchema", "true").csv(ds)
          case "tsv" | "tabseparated" => spark.read.option("sep", "\t").csv(ds)
          case other => throw new IllegalArgumentException(
            s"format() table function: unsupported format '$other' " +
              "(JSONEachRow/CSV[WithNames]/TSV)")
        }
        val view = s"graft_inline_${sysSeq.incrementAndGet()}"
        df.createOrReplaceTempView(view)
        Regex.quoteReplacement(s"FROM $view")
      }
    }
    // merge(['db',] 'tables_regexp') — CH's multi-table union view:
    // every catalog table whose name matches the regexp, unioned, with
    // CH's `_table` virtual column naming the source. Schemas must
    // match exactly (loud fail — CH would common-type them; we refuse
    // rather than silently coerce). cluster()/clusterAllReplicas()
    // pass through to the underlying table: a single Spark cluster IS
    // the cluster, the fan-out/merge CH does by hand is Spark's own
    // shuffle (documented single-cluster stand-in).
    val mergeFnRe =
      """(?i)\bmerge\s*\(\s*(?:'([^']*)'\s*,\s*)?'([^']+)'\s*\)""".r
    if (mergeFnRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = mergeFnRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement {
          val re = m.group(2)
          val names = spark.catalog.listTables().collect()
            .map(_.name).filter(_.matches(re)).sorted.toSeq
          require(names.nonEmpty,
            s"merge(): no catalog table matches regexp '$re'")
          val schemas = names.map(n => n -> spark.table(n).schema)
          val (n0, s0) = schemas.head
          schemas.tail.foreach { case (n, sch) =>
            require(sch == s0,
              s"merge(): schema of '$n' differs from '$n0' — CH would " +
                "common-type them; align the schemas explicitly instead")
          }
          val branches = names.map(n => s"SELECT *, '$n' AS _table FROM $n")
          s"(${branches.mkString(" UNION ALL ")}) " +
            s"graft_merge_${sysSeq.incrementAndGet()}"
        })
    }
    val clusterFnRe =
      """(?i)\bcluster(?:AllReplicas)?\s*\(\s*'[^']*'\s*,\s*([A-Za-z_][\w.]*)\s*\)""".r
    if (clusterFnRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = clusterFnRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement(
          m.group(1).replaceAll("^(?i)(default|currentDatabase\\(\\))\\.", "")))
    }
    if (generateRandomRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = generateRandomRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement {
          val seed = Option(m.group(2)).map(_.toLong).getOrElse(0L)
          val cols = splitTopLevel(m.group(1)).map { item =>
            val t = item.trim
            val cut = t.indexWhere(_.isWhitespace)
            require(cut > 0, s"generateRandom: column spec 'name Type' expected, got '$t'")
            val name = t.substring(0, cut)
            s"${generateColumnSql(name, t.substring(cut).trim, seed)} AS $name"
          }
          s"(SELECT ${cols.mkString(", ")} FROM range(9223372036854775807))" +
            s" graft_gen_${sysSeq.incrementAndGet()}"
        })
    }
    // CH `VALUES('a UInt8, s String', (1, 'x'), …)` table function —
    // the schema string names and types positional columns. Rewrites
    // onto Spark's inline VALUES with per-column casts.
    val valuesFnRe = """(?i)\bVALUES\s*\(\s*'""".r
    var vm = valuesFnRe.findFirstMatchIn(q)
      .filter(m => !inStringMask(q)(m.start))
    while (vm.isDefined) {
      val m = vm.get
      val open = q.indexOf('(', m.start)
      val close = matchParenStr(q, open)
      val body = q.substring(open + 1, close)
      val q1 = body.indexOf('\'')
      val q2 = body.indexOf('\'', q1 + 1)
      require(q2 > q1, "VALUES('schema', …): unterminated schema string")
      val rows = body.substring(body.indexOf(',', q2) + 1).trim
      require(rows.nonEmpty, "VALUES('schema', …) needs at least one row")
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      val casted = splitTopLevel(body.substring(q1 + 1, q2)).zipWithIndex
        .map { case (item, i) =>
          val t = item.trim
          val cut = t.indexWhere(_.isWhitespace)
          require(cut > 0, s"VALUES: column spec 'name Type' expected, got '$t'")
          val name = t.substring(0, cut)
          names += name
          s"CAST(c$i AS ${chType(t.substring(cut).trim).sql}) AS $name"
        }
      val n = sysSeq.incrementAndGet()
      q = q.substring(0, m.start) +
        s"(SELECT ${casted.mkString(", ")} FROM VALUES $rows AS " +
        s"graft_vals_$n(${casted.indices.map("c" + _).mkString(", ")}))" +
        q.substring(close + 1)
      vm = valuesFnRe.findFirstMatchIn(q)
        .filter(mm => mm.start > m.start && !inStringMask(q)(mm.start))
    }
    if (systemColumnsRe.findFirstIn(q).isDefined) {
      import spark.implicits._
      // catalog snapshot of every listable table's columns, CH's
      // (database, table, name, type, position) shape
      spark.catalog.listTables().collect().toSeq.flatMap { t =>
        scala.util.Try(spark.catalog.listColumns(t.name).collect().toSeq)
          .getOrElse(Nil).zipWithIndex.map { case (c, i) =>
            (Option(t.database).getOrElse(""), t.name, c.name, c.dataType,
              i + 1)
          }
      }.toDF("database", "table", "name", "type", "position")
        .createOrReplaceTempView("graft_system_columns")
      q = maskedReplaceAll(q, systemColumnsRe)(_ => "graft_system_columns")
    }
    if (systemFunctionsRe.findFirstIn(q).isDefined) {
      import spark.implicits._
      // CH system.functions (name, is_aggregate unknown here — origin
      // distinguishes builtins from session registrations instead)
      spark.catalog.listFunctions().collect().toSeq
        .map(f => (f.name, Option(f.className).getOrElse(""), f.isTemporary))
        .toDF("name", "class", "is_temporary")
        .createOrReplaceTempView("graft_system_functions")
      q = maskedReplaceAll(q, systemFunctionsRe)(_ => "graft_system_functions")
    }
    if (queryLogRe.findFirstIn(q).isDefined) {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      queryLog.iterator().asScala.toSeq
        .map { case (id, ms, text) =>
          (id, new java.sql.Timestamp(ms), text) }
        .toDF("query_id", "event_time", "query")
        .createOrReplaceTempView("graft_query_log")
      q = maskedReplaceAll(q, queryLogRe)(_ => "graft_query_log")
    }
    if (systemSettingsRe.findFirstIn(q).isDefined) {
      import spark.implicits._
      // CH system.settings — the live session configuration snapshot
      // (name/value; CH's changed/description flags need conf-default
      // metadata Spark keeps private)
      spark.conf.getAll.toSeq.sortBy(_._1)
        .toDF("name", "value")
        .createOrReplaceTempView("graft_system_settings")
      q = maskedReplaceAll(q, systemSettingsRe)(_ => "graft_system_settings")
    }
    if (systemDatabasesRe.findFirstIn(q).isDefined) {
      import spark.implicits._
      spark.catalog.listDatabases().collect().toSeq
        .map(d => (d.name, Option(d.locationUri).map(_.toString).getOrElse("")))
        .toDF("name", "data_path")
        .createOrReplaceTempView("graft_system_databases")
      q = maskedReplaceAll(q, systemDatabasesRe)(_ => "graft_system_databases")
    }
    if (systemPartsRe.findFirstIn(q).isDefined) {
      import spark.implicits._
      // CH system.parts: one row per storage part holding data, with
      // on-disk bytes from the FS (row counts would need a footer read
      // per file — omitted). A front-door table's parts are its part
      // directories; any other view reports each backing file.
      def bytes(f: java.io.File): Long =
        if (!f.isDirectory) f.length()
        else f.listFiles().filterNot(c => c.getName.startsWith(".") ||
          c.getName.startsWith("_")).map(bytes).sum
      spark.catalog.listTables().collect().toSeq.flatMap { t =>
        scala.util.Try {
          val df = spark.table(t.name)
          partsOf(df).map(_._1).getOrElse(
            df.inputFiles.toSeq.map(f => new java.net.URI(f).getPath))
        }.getOrElse(Nil).map { path =>
          val p = new java.io.File(path)
          ("default", t.name, p.getName, bytes(p), 1)
        }.filter(_._4 > 0)
      }.toDF("database", "table", "name", "bytes_on_disk", "active")
        .createOrReplaceTempView("graft_system_parts")
      q = maskedReplaceAll(q, systemPartsRe)(_ => "graft_system_parts")
    }
    if (systemTablesRe.findFirstIn(q).isDefined) {
      import spark.implicits._
      spark.catalog.listTables().collect().toSeq
        .map(t => (Option(t.database).getOrElse(""), t.name,
          Option(t.tableType).getOrElse("TEMPORARY"), t.isTemporary))
        .toDF("database", "name", "engine", "is_temporary")
        .createOrReplaceTempView("graft_system_tables")
      q = maskedReplaceAll(q, systemTablesRe)(_ => "graft_system_tables")
    }
    q = maskedReplaceAll(q, numbersFnRe)(m => Regex.quoteReplacement {
      // 1-arg = count; 2-arg CH form = (offset, count)
      val (lo, hi) = Option(m.group(2)) match {
        case Some(n) => (m.group(1).toLong, m.group(1).toLong + n.toLong)
        case None => (0L, m.group(1).toLong)
      }
      s"(SELECT id AS number FROM range($lo, $hi)) graft_nums_${sysSeq.incrementAndGet()}"
    })
    // system.numbers is unbounded in CH too — range() generates
    // lazily, so a LIMIT (or any short-circuit) bounds the scan.
    q = maskedReplaceAll(q, systemNumbersRe)(_ => Regex.quoteReplacement(
      s"(SELECT id AS number FROM range(9223372036854775807)) graft_nums_${sysSeq.incrementAndGet()}"))
    q = maskedReplaceAll(q, systemOneRe)(_ => Regex.quoteReplacement(
      s"(SELECT CAST(0 AS TINYINT) AS dummy) graft_one_${sysSeq.incrementAndGet()}"))
    q
  }

  /** CH `SELECT TOP n …` ≡ `SELECT … LIMIT n` (the T-SQL-ism CH
    * accepts). Rewritten to LIMIT so the rest of the pipeline (incl.
    * LIMIT-BY routing) sees one canonical spelling.
    */
  // ---- CH bracket syntax -------------------------------------------
  // CH text uses `[1,2,3]` array literals (Spark's parser rejects
  // them) and 1-BASED subscripts `arr[i]` (Spark's native subscript
  // is 0-based — the worst kind of breakage: a verbatim CH query
  // would run and be silently off by one). Both rewrite here, scoped
  // to text routed through this front door, so Spark-spelled queries
  // via spark.sql are untouched. Literals become array(…); subscripts
  // become try_element_at(expr, i) — 1-based, negative-from-end, NULL
  // out of range (CH's Nullable contract; cannot throw under ANSI),
  // and it subscripts maps with the same spelling, like CH.
  // A `[` is a subscript iff the previous token can END an
  // expression: `)`, `]`, a string literal, or an identifier that is
  // not a SQL keyword.
  private val bracketKeywords: Set[String] = Set(
    "select", "from", "where", "and", "or", "not", "in", "by", "as",
    "on", "when", "then", "else", "end", "join", "all", "distinct",
    "union", "intersect", "except", "having", "limit", "offset",
    "case", "between", "like", "ilike", "rlike", "is", "null", "asc",
    "desc", "group", "order", "with", "values", "using", "interval",
    "over", "partition", "rows", "range", "exists", "escape", "any",
    "some", "cast", "prewhere", "sample", "totals", "fill", "step")

  private def matchBracket(s: String, open: Int): Int = {
    var depth = 0
    var inStr = false
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced [ at $open in: $s")
  }

  /** One forward pass tracking where the CURRENT primary expression
    * started in the output, so a subscript can wrap exactly its base
    * (`f(x)[1][2]` → try_element_at(try_element_at(f(x), 1), 2)).
    * Parens push/pop the primary start; a call's primary starts at
    * the function identifier, a plain group at its `(`.
    */
  private def rewriteBrackets(s: String): String = {
    if (!s.contains('[')) return s
    val out = new StringBuilder(s.length + 16)
    var primaryStart = 0
    val groupStarts = scala.collection.mutable.Stack[Int]()
    var inStr = false
    var i = 0
    def prevChar: Char = if (out.isEmpty) ' ' else out.charAt(out.length - 1)
    def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    def continuing: Boolean = identChar(prevChar) || prevChar == '.'
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { out.append(c); if (c == '\'') inStr = false; i += 1 }
      else c match {
        case '\'' =>
          if (!continuing) primaryStart = out.length
          out.append(c); inStr = true; i += 1
        case '(' =>
          if (!continuing) primaryStart = out.length
          groupStarts.push(primaryStart)
          out.append(c); i += 1
        case ')' =>
          if (groupStarts.nonEmpty) primaryStart = groupStarts.pop()
          out.append(c); i += 1
        case '[' =>
          val close = matchBracket(s, i)
          val inner = rewriteBrackets(s.substring(i + 1, close))
          var j = out.length - 1
          while (j >= 0 && out.charAt(j).isWhitespace) j -= 1
          val p = if (j < 0) ' ' else out.charAt(j)
          val isSub =
            if (p == ')' || p == ']' || p == '\'') true
            else if (identChar(p)) {
              val e = j
              while (j >= 0 && identChar(out.charAt(j))) j -= 1
              !bracketKeywords.contains(
                out.substring(j + 1, e + 1).toLowerCase(java.util.Locale.ROOT))
            } else false
          if (isSub) {
            val base = out.substring(primaryStart)
            out.setLength(primaryStart)
            out.append("try_element_at(").append(base).append(", ")
              .append(inner).append(')')
            // primaryStart unchanged: the wrapped call is the new base
          } else {
            primaryStart = out.length
            out.append("array(").append(inner).append(')')
          }
          i = close + 1
        case _ =>
          if (identChar(c) && !continuing) primaryStart = out.length
          out.append(c); i += 1
      }
    }
    out.toString
  }

  // ---- same-name, different-semantics builtins ---------------------
  // Three CH function names collide with Spark builtins that mean
  // something ELSE: `position` flips its arguments (silent off-by-N
  // answers), `any` is Spark's bool_or (loud type error), `extract`
  // is Spark's date-part syntax. Shadowing the registry would flip
  // Spark-spelled queries in the same session (the documented
  // position/any decision in ChDialect), so the NAME rewrites here —
  // string-masked and scoped to text routed through this front door.
  private val chPositionRe = """(?i)\bposition\s*\(""".r
  private val chAnyRe = """(?i)\bany\s*\(""".r
  private val chExtractRe = """(?i)\bextract\s*\(""".r
  private val inKwRe = """(?i)\bIN\b""".r

  private def renameMasked(q: String, re: Regex, to: String): String = {
    if (re.findFirstIn(q).isEmpty) return q
    val mask = inStringMask(q)
    re.replaceAllIn(q, m =>
      if (mask(m.start)) Regex.quoteReplacement(m.matched) else to)
  }

  /** CH `position(haystack, needle[, start])` → the collision-free
    * chPosition builder (CH argument order). The ANSI spelling
    * `position(needle IN haystack)` — a top-level IN inside the
    * parens — is Spark's own syntax and passes through untouched.
    */
  private def rewritePosition(q0: String): String = {
    var q = q0
    var search = 0
    while (true) {
      val mask = inStringMask(q)
      chPositionRe.findFirstMatchIn(q.substring(search)) match {
        case None => return q
        case Some(m0) =>
          val start = search + m0.start
          if (mask(start)) { search = start + 1 }
          else {
            val open = search + m0.end - 1
            val close = matchParenStr(q, open)
            if (firstTopLevel(q.substring(open + 1, close), inKwRe).isDefined)
              search = close
            else {
              q = q.substring(0, start) + "chPosition" + q.substring(open)
              search = start + "chPosition".length
            }
          }
      }
    }
    q
  }

  /** CH `extract(haystack, 'pattern')` → regexp_extract; group index
    * 1 when the pattern has a capturing group (CH uses the first
    * subpattern), else 0 (whole match). Spark's own
    * `EXTRACT(field FROM ts)` has a FROM inside the parens and passes
    * through untouched.
    */
  private def rewriteExtract(q0: String): String = {
    var q = q0
    var search = 0
    while (true) {
      val mask = inStringMask(q)
      chExtractRe.findFirstMatchIn(q.substring(search)) match {
        case None => return q
        case Some(m0) =>
          val start = search + m0.start
          if (mask(start)) { search = start + 1 }
          else {
            val open = search + m0.end - 1
            val close = matchParenStr(q, open)
            val parts = splitTopLevel(q.substring(open + 1, close))
            val isRegexForm = parts.size == 2 && {
              val p = parts(1).trim
              p.startsWith("'") && p.endsWith("'")
            }
            if (!isRegexForm) { search = close } // EXTRACT(x FROM y) et al
            else {
              val pat = parts(1).trim
              // capturing group present? '(' not escaped, not '(?'
              val body = pat.substring(1, pat.length - 1)
              var hasGroup = false
              var i = 0
              while (i < body.length) {
                if (body.charAt(i) == '\\') i += 2
                else {
                  if (body.charAt(i) == '(' &&
                    (i + 1 >= body.length || body.charAt(i + 1) != '?'))
                    hasGroup = true
                  i += 1
                }
              }
              val idx = if (hasGroup) 1 else 0
              q = q.substring(0, start) +
                s"regexp_extract(${parts(0).trim}, $pat, $idx)" +
                q.substring(close + 1)
              search = start
            }
          }
      }
    }
    q
  }

  // CH tuple ordinal access `t.1` (1-based) — Spark has no dot-digit
  // syntax, so it rewrites to the tupleElement builder. String-masked:
  // 'file_1.2' style literals must not match.
  private val tupleDotRe = """\b([A-Za-z_]\w*)\.(\d+)""".r

  private def rewriteTupleDots(q: String): String = {
    if (!tupleDotRe.findFirstIn(q).isDefined) return q
    val mask = inStringMask(q)
    tupleDotRe.replaceAllIn(q, m =>
      if (mask(m.start)) Regex.quoteReplacement(m.matched)
      else s"tupleElement(${m.group(1)}, ${m.group(2)})")
  }

  // CH ordinal access on a CALL result — `tuple(1, 'x').1`. The
  // identifier form above can't see it (the receiver is a paren
  // group), so this pass walks back from `).N` to the matching open
  // paren plus the callee name and wraps the whole call.
  private val callDotRe = """\)\s*\.(\d+)\b""".r

  private def rewriteCallDots(q0: String): String = {
    var q = q0
    var guard = 0
    var continue = true
    while (continue && guard < 64) {
      guard += 1
      val mask = inStringMask(q)
      callDotRe.findAllMatchIn(q).find(m => !mask(m.start)) match {
        case None => continue = false
        case Some(m) =>
          var depth = 0; var i = m.start; var open = -1
          while (i >= 0 && open < 0) {
            if (!mask(i)) q.charAt(i) match {
              case ')' => depth += 1
              case '(' => depth -= 1; if (depth == 0) open = i
              case _ =>
            }
            i -= 1
          }
          require(open >= 0, s"unbalanced parens before '.${m.group(1)}'")
          var s = open
          while (s > 0 && (q.charAt(s - 1).isLetterOrDigit ||
            q.charAt(s - 1) == '_')) s -= 1
          val callee = q.substring(s, m.start + 1)
          q = q.substring(0, s) +
            s"tupleElement($callee, ${m.group(1)})" + q.substring(m.end)
      }
    }
    q
  }

  // CH tolerates a trailing comma in the SELECT list (`SELECT a, b,
  // FROM t`); Spark rejects it.
  private val trailingCommaRe = """,(\s*)(?=(?i:FROM)\b)""".r

  private def rewriteTrailingComma(q: String): String = {
    if (!trailingCommaRe.findFirstIn(q).isDefined) return q
    val mask = inStringMask(q)
    trailingCommaRe.replaceAllIn(q, m =>
      if (mask(m.start)) Regex.quoteReplacement(m.matched)
      else " " + m.group(1))
  }

  // CH type names in cast positions (`CAST(x AS UInt64)`,
  // `x::Float32`, optionally Nullable-wrapped) — Spark's parser
  // rejects the CH spellings, so they map to the same Spark types as
  // the DDL mapper [[chType]]. Scoped to `AS <type>` / `:: <type>`
  // context so identifiers that merely look like type names are
  // untouched; Spark columns are always nullable, so the Nullable
  // wrapper just unwraps.
  private val chCastTypes: Map[String, String] = Map(
    "int8" -> "TINYINT", "int16" -> "SMALLINT", "int32" -> "INT",
    "int64" -> "BIGINT", "uint8" -> "SMALLINT", "uint16" -> "INT",
    "uint32" -> "BIGINT", "uint64" -> "BIGINT", "float32" -> "FLOAT",
    "float64" -> "DOUBLE", "datetime" -> "TIMESTAMP",
    "date32" -> "DATE")
  private val chNullableCastRe =
    """(?i)(\bAS\s+|::\s*)Nullable\s*\(\s*([^()]*?)\s*\)""".r
  private val chCastRe =
    ("""(?i)(\bAS\s+|::\s*)(UInt8|UInt16|UInt32|UInt64|Int8|Int16|""" +
      """Int32|Int64|Float32|Float64|DateTime64(?:\s*\(\s*\d+\s*\))?|""" +
      """DateTime|Date32|FixedString\s*\(\s*\d+\s*\)|Dynamic|""" +
      """Variant\s*\((?:[^()]|\([^()]*\))*\))(?!\w)""").r

  // LowCardinality is a storage encoding, not a logical type — unwrap
  // in cast position (one nesting level covers LowCardinality(Nullable(T)))
  private val chLowCardCastRe =
    """(?i)(\bAS\s+|::\s*)LowCardinality\s*\(((?:[^()]|\([^()]*\))*)\)""".r

  private def rewriteChCastTypes(q0: String): String = {
    var q = q0
    if (chLowCardCastRe.findFirstIn(q).isDefined) {
      val maskLc = inStringMask(q)
      q = chLowCardCastRe.replaceAllIn(q, m =>
        if (maskLc(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement(m.group(1) + m.group(2)))
    }
    if (chNullableCastRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = chNullableCastRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement(m.group(1) + m.group(2)))
    }
    // CH's JSON column type (24.x headline feature): CAST(x AS JSON)
    // PARSES the string — Spark's CAST to VARIANT would wrap it as a
    // variant STRING instead (verified), so the faithful mapping is
    // the parse_json() call. Paren-matched because the operand can
    // nest arbitrarily.
    val castAsJsonRe = """(?i)\s+AS\s+JSON\s*$""".r
    var goJ = true
    while (goJ) {
      goJ = false
      val maskJ = inStringMask(q)
      castOpenRe.findAllMatchIn(q).filterNot(m => maskJ(m.start))
        .flatMap { m =>
          val open = m.end - 1
          val close = matchParenStr(q, open)
          val inner = q.substring(open + 1, close)
          castAsJsonRe.findFirstMatchIn(inner)
            .filter(am => !inStringMask(inner)(am.start))
            .map(am => (m.start, close, inner.substring(0, am.start)))
        }.take(1).toList.foreach { case (s0, close, e) =>
          q = q.substring(0, s0) + s"parse_json($e)" + q.substring(close + 1)
          goJ = true
        }
    }
    // the postfix spelling for simple operands: 'lit'::JSON / col::JSON
    val postfixJsonRe =
      """(?i)((?:'[^']*')|(?:[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*))\s*::\s*JSON(?!\w)""".r
    if (postfixJsonRe.findFirstIn(q).isDefined) {
      val maskP = inStringMask(q)
      q = postfixJsonRe.replaceAllIn(q, m =>
        if (maskP(m.end - 1)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement(s"parse_json(${m.group(1)})"))
    }
    // compound Array(…)/Map(…) types in cast position — paren-matched
    // (nested types carry commas and parens a regex can't scope) and
    // mapped through the DDL type mapper
    val compoundCastRe = """(?i)(\bAS\s+|::\s*)(Array|Map|Tuple)\s*\(""".r
    var go = true
    while (go) {
      go = false
      val mask2 = inStringMask(q)
      compoundCastRe.findAllMatchIn(q).filterNot(m => mask2(m.start))
        .take(1).foreach { m =>
          val open = m.end - 1
          val close = matchParenStr(q, open)
          val typeTxt = m.group(2) + q.substring(open, close + 1)
          q = q.substring(0, m.start) + m.group(1) + chType(typeTxt).sql +
            q.substring(close + 1)
          go = true
        }
    }
    if (chCastRe.findFirstIn(q).isEmpty) return q
    val mask = inStringMask(q)
    chCastRe.replaceAllIn(q, m =>
      if (mask(m.start)) Regex.quoteReplacement(m.matched)
      else {
        val raw = m.group(2).toLowerCase(java.util.Locale.ROOT)
        val mapped =
          if (raw.startsWith("datetime64")) "TIMESTAMP"
          else if (raw.startsWith("fixedstring")) "STRING"
          // CH 24.x Dynamic / Variant(T…) union types → Spark 4's
          // VariantType (the faithful modern mapping, SURVEY §1.2);
          // the member list is erased — variant_get re-types on read
          else if (raw == "dynamic" || raw.startsWith("variant")) "VARIANT"
          else chCastTypes(raw)
        Regex.quoteReplacement(m.group(1) + mapped)
      })
  }

  // CH `CAST((keys, vals) AS Map(K, V))` — a tuple-of-arrays to map
  // conversion Spark's CAST can't express; rewrite onto
  // map_from_arrays with the element types mapped through [[chType]].
  private val castOpenRe = """(?i)\bCAST\s*\(""".r
  private val mapTypeRe = """(?i)^Map\s*\((.*)\)$""".r

  private def rewriteTupleMapCast(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      go = false
      val mask = inStringMask(q)
      castOpenRe.findAllMatchIn(q).filterNot(m => mask(m.start))
        .map { m =>
          val open = m.end - 1
          (m, open, matchParenStr(q, open))
        }.flatMap { case (m, open, close) =>
          val inner = q.substring(open + 1, close)
          val innerMask = topLevelMask(inner)
          """(?i)\bAS\b""".r.findAllMatchIn(inner)
            .filter(a => innerMask(a.start)).toSeq.lastOption
            .flatMap { a =>
              val operand = inner.substring(0, a.start).trim
              val tpe = inner.substring(a.end).trim
              mapTypeRe.findFirstMatchIn(tpe).flatMap { t =>
                val kv = splitTopLevel(t.group(1))
                if (kv.size == 2 && operand.startsWith("(") &&
                  matchParenStr(operand, 0) == operand.length - 1) {
                  val parts = splitTopLevel(
                    operand.substring(1, operand.length - 1))
                  if (parts.size == 2)
                    Some((m.start, close,
                      s"map_from_arrays(" +
                        s"CAST((${parts(0)}) AS ARRAY<${chType(kv(0)).sql}>), " +
                        s"CAST((${parts(1)}) AS ARRAY<${chType(kv(1)).sql}>))"))
                  else None
                } else None
              }
            }
        }.take(1).foreach { case (start, close, repl) =>
          q = q.substring(0, start) + repl + q.substring(close + 1)
          go = true
        }
    }
    q
  }

  /** The character-level CH→Spark passes, applied before any clause
    * routing: bracket syntax, tuple dots, colliding builtin renames,
    * cast-position type names.
    */
  // CH dateSub(DAY, 3, d): the bare unit keyword cannot resolve as an
  // expression child, so it becomes a string literal before parsing.
  // Only the *Sub spellings need this — dateAdd/date_add/timestampAdd
  // are special-cased in Spark's own grammar with UNQUOTED units (and
  // quoting would break them); 2-arg date_sub(date, days) never
  // matches the unit-keyword shape.
  private val dateArithUnitRe =
    ("""(?i)\b(dateSub|timestampSub|date_sub)""" +
      """\s*\(\s*(year|quarter|month|week|day|hour|minute|second)\s*,""").r

  /** CH ternary `cond ? a : b` → `if((cond), (a), (b))`.
    *
    * The colon is matched at the same paren depth, skipping `::`
    * casts; an unparenthesized nested ternary in the a-branch bumps a
    * nesting counter so its colon is not taken. A nested ternary in
    * the b-branch starts AFTER the matched colon and is handled on
    * the next loop round — right-associativity for free. Operand
    * bounds: the condition extends left, and the b-branch right, to
    * the nearest same-depth comma/bracket or clause keyword; AND/OR
    * and comparisons bind TIGHTER than `?:` (the C precedence CH
    * follows), so they stay inside the operands. `?` inside string
    * literals (sequenceMatch patterns!) is masked out.
    */
  private val ternaryRightKwRe =
    """(?i)^(FROM|AS|WHERE|PREWHERE|GROUP|ORDER|LIMIT|UNION|INTERSECT|EXCEPT|SETTINGS|HAVING|THEN|ELSE|END|WHEN|JOIN|ON|INTO|FORMAT|ASC|DESC)\b""".r

  private def rewriteTernary(q0: String): String = {
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      val s = q
      val inStr = inStringMask(s)
      var qm = -1
      var i = 0
      while (i < s.length && qm < 0) {
        if (!inStr(i) && s.charAt(i) == '?') qm = i
        i += 1
      }
      if (qm >= 0) {
        // matching ':' at the same depth (skip '::', count nested '?')
        var depth = 0; var nest = 0; var colon = -1; var j = qm + 1
        while (j < s.length && colon < 0) {
          val c = s.charAt(j)
          if (!inStr(j)) c match {
            case '(' | '[' => depth += 1
            case ')' | ']' => depth -= 1
            case '?' if depth == 0 => nest += 1
            case ':' if depth == 0 =>
              if (j + 1 < s.length && s.charAt(j + 1) == ':') j += 1
              else if (nest > 0) nest -= 1
              else colon = j
            case _ => ()
          }
          if (colon < 0) j += 1
        }
        require(colon > 0,
          s"ternary '?' at position $qm has no matching ':' — " +
            "write if(cond, a, b) explicitly if this is not a ternary")
        // left bound of the condition
        var lb = 0; var k = qm - 1; var depthL = 0; var doneL = false
        while (k >= 0 && !doneL) {
          val c = s.charAt(k)
          if (!inStr(k)) {
            if (c == ')' || c == ']') depthL += 1
            else if (c == '(' || c == '[') {
              if (depthL == 0) { lb = k + 1; doneL = true } else depthL -= 1
            } else if (c == ',' && depthL == 0) { lb = k + 1; doneL = true }
          }
          if (!doneL) k -= 1
        }
        // the LAST same-depth clause keyword inside [lb, qm) bounds
        // the condition (e.g. `SELECT a ? b : c` → cond is just `a`)
        val condRegion = s.substring(lb, qm)
        val kwScan = """(?i)\b(SELECT|FROM|WHERE|PREWHERE|HAVING|WHEN|THEN|ELSE|ON|SETTINGS|DISTINCT|BY|LIMIT|JOIN|UNION|INTERSECT|EXCEPT|AS|END|ALL)\b""".r
        var condStart = lb
        locally {
          val regMask = inStringMask(condRegion)
          val ends = scala.collection.mutable.ArrayBuffer[Int]()
          kwScan.findAllMatchIn(condRegion).foreach { m =>
            var dd = 0; var t = 0
            while (t < m.start) {
              if (!regMask(t)) {
                val ch = condRegion.charAt(t)
                if (ch == '(' || ch == '[') dd += 1
                else if (ch == ')' || ch == ']') dd -= 1
              }
              t += 1
            }
            if (dd == 0 && !regMask(m.start)) ends += m.end
          }
          if (ends.nonEmpty) condStart = lb + ends.last
        }
        // right bound of the b-branch
        var rb = s.length; var m2 = colon + 1; var depthR = 0
        while (m2 < s.length && rb == s.length) {
          val c = s.charAt(m2)
          if (!inStr(m2)) {
            if (c == '(' || c == '[') depthR += 1
            else if (c == ')' || c == ']') {
              if (depthR == 0) rb = m2 else depthR -= 1
            } else if (c == ',' && depthR == 0) rb = m2
            else if (depthR == 0 && (m2 == 0 || !s.charAt(m2 - 1).isLetterOrDigit) &&
              ternaryRightKwRe.findFirstIn(s.substring(m2)).isDefined) rb = m2
          }
          if (rb == s.length) m2 += 1
        }
        val cond = s.substring(condStart, qm).trim
        val aBr = s.substring(qm + 1, colon).trim
        val bBr = s.substring(colon + 1, rb).trim
        require(cond.nonEmpty && aBr.nonEmpty && bBr.nonEmpty,
          s"ternary: empty operand in '${s.substring(condStart, rb)}'")
        q = s.substring(0, condStart) + s" if(($cond), ($aBr), ($bBr)) " +
          s.substring(rb)
        changed = true
      }
    }
    q
  }

  // toTimeZone SHIFTS the wall clock here (the session renders in
  // UTC; CH re-labels the display zone without moving the instant) so
  // display functions (toHour/toString) agree with CH; the epoch
  // family (toUnixTimestamp*) unwraps the shift in its builders
  // (ChDialect unwrapTz) so the composition reads the ORIGINAL
  // instant — both halves CH-faithful, no rejection needed.
  // ---- window spellings that carry a frame (wave 28) ----------------
  // Spark's lag/lead REFUSE an explicit window frame, while CH's
  // lagInFrame/leadInFrame and nonNegativeDerivative are documented
  // with one written out. lag/lead only read the ORDER, so the FULL
  // frame ('everything') is semantics-free and is stripped; a NARROW
  // frame genuinely changes lagInFrame's answer in CH, so that is
  // refused loudly rather than silently widened. nonNegativeDerivative
  // expands to the lag-difference quotient (any frame strips — the
  // expansion reads only the previous row).
  private val inFrameCallRe = """(?i)\b(lagInFrame|leadInFrame)\s*\(""".r
  private val nnDerivRe = """(?i)\bnonNegativeDerivative\s*\(""".r
  private val frameClauseRe =
    """(?is)\b(ROWS|RANGE|GROUPS)\s+(BETWEEN\s+.+?|UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+PRECEDING)\s*$""".r
  private val fullFrameRe =
    """(?i)\bROWS\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+UNBOUNDED\s+FOLLOWING\s*$""".r
  private val intervalArgRe = """(?i)^\s*INTERVAL\s+(\d+)\s+(\w+)\s*$""".r

  /** (overClose, spec) for the OVER ( … ) that must follow position
    * `from`; -1 when the call is not followed by OVER (left for the
    * analyzer to reject with its own message).
    */
  private def overSpecAfter(q: String, from: Int): (Int, Int) = {
    var j = from
    while (j < q.length && q.charAt(j).isWhitespace) j += 1
    if (!q.regionMatches(true, j, "OVER", 0, 4)) return (-1, -1)
    var k = j + 4
    while (k < q.length && q.charAt(k).isWhitespace) k += 1
    if (k >= q.length || q.charAt(k) != '(') return (-1, -1)
    (k, matchParenStr(q, k))
  }

  private def rewriteWindowFrameSpellings(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      go = false
      val inStr = inStringMask(q)
      // first *InFrame call whose OVER still carries a frame (a call
      // already stripped on an earlier pass no longer matches)
      val frameHit = inFrameCallRe.findAllMatchIn(q)
        .filterNot(m => inStr(m.start))
        .flatMap { m =>
          val aClose = matchParenStr(q, m.end - 1)
          val (oOpen, oClose) = overSpecAfter(q, aClose + 1)
          if (oOpen < 0) None
          else {
            val spec = q.substring(oOpen + 1, oClose)
            frameClauseRe.findFirstMatchIn(spec)
              .map(fm => (m, oOpen, oClose, spec, fm))
          }
        }.take(1).toList.headOption
      frameHit.foreach { case (m, oOpen, oClose, spec, fm) =>
        require(fullFrameRe.findFirstIn(spec).isDefined,
          s"${m.group(1)} with a NARROW window frame changes the " +
            "answer in ClickHouse and Spark's lag/lead cannot honor " +
            "one — use the full frame (ROWS BETWEEN UNBOUNDED " +
            "PRECEDING AND UNBOUNDED FOLLOWING) or first_value/" +
            "nth_value for frame-bounded reads")
        q = q.substring(0, oOpen + 1) + spec.substring(0, fm.start) +
          q.substring(oClose)
        go = true
      }
      if (!go) {
        nnDerivRe.findAllMatchIn(q).find(m => !inStr(m.start)).foreach { m =>
          val aClose = matchParenStr(q, m.end - 1)
          val args = splitTopLevel(q.substring(m.end, aClose)).map(_.trim)
          require(args.size == 2 || args.size == 3,
            "nonNegativeDerivative(metric, timestamp[, INTERVAL n unit])")
          val (oOpen, oClose) = overSpecAfter(q, aClose + 1)
          require(oOpen >= 0, "nonNegativeDerivative is a window " +
            "function — write … OVER (PARTITION BY … ORDER BY ts)")
          val spec0 = q.substring(oOpen + 1, oClose)
          val spec = frameClauseRe.findFirstMatchIn(spec0)
            .map(fm => spec0.substring(0, fm.start)).getOrElse(spec0)
          val secs: Double = args.lift(2).map {
            case intervalArgRe(n, unit) =>
              val u = unit.toLowerCase(java.util.Locale.ROOT)
              val base = Map("nanosecond" -> 1e-9, "microsecond" -> 1e-6,
                "millisecond" -> 1e-3, "second" -> 1.0, "minute" -> 60.0,
                "hour" -> 3600.0, "day" -> 86400.0, "week" -> 604800.0)
              base.getOrElse(u.stripSuffix("s"), throw new
                  IllegalArgumentException(
                    s"nonNegativeDerivative: unsupported interval unit '$unit'"))
                .*(n.toDouble)
            case other => throw new IllegalArgumentException(
              s"nonNegativeDerivative: third argument must be a literal " +
                s"INTERVAL, got '$other'")
          }.getOrElse(1.0)
          val v = s"CAST(${args(0)} AS DOUBLE)"
          val t = s"CAST(${args(1)} AS DOUBLE)"
          // greatest() skips NULLs, so the partition's first row (no
          // previous point) lands on 0 exactly like CH
          val repl = s"greatest(CAST(0 AS DOUBLE), " +
            s"($v - lag($v, 1) OVER ($spec)) / " +
            s"(($t - lag($t, 1) OVER ($spec)) / CAST($secs AS DOUBLE)))"
          q = q.substring(0, m.start) + repl + q.substring(oClose + 1)
          go = true
        }
      }
    }
    q
  }

  // CH variantElement(v, 'TypeName'[, default]) → Spark VARIANT
  // try_variant_get at the root path (NULL on type mismatch, exactly
  // the CH default-less contract; a third argument coalesces over it)
  private val variantElemRe = """(?i)\bvariantElement\s*\(""".r

  private def rewriteVariantElement(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      go = false
      val inStr = inStringMask(q)
      variantElemRe.findAllMatchIn(q).find(m => !inStr(m.start)).foreach { m =>
        val close = matchParenStr(q, m.end - 1)
        val args = splitTopLevel(q.substring(m.end, close)).map(_.trim)
        require(args.size == 2 || args.size == 3,
          "variantElement(variant, 'TypeName'[, default])")
        val tl = args(1)
        require(tl.length >= 2 && tl.head == '\'' && tl.last == '\'',
          s"variantElement: the type must be a string literal, got $tl")
        val sparkT = chType(tl.substring(1, tl.length - 1)).sql
        // CH returns the value only when the variant's CURRENT type
        // matches the requested one (no coercion — asking String of an
        // Int64 variant is NULL/default), so gate on schema_of_variant
        val got = s"(CASE WHEN schema_of_variant(${args(0)}) = '$sparkT' " +
          s"THEN try_variant_get(${args(0)}, '$$', '$sparkT') END)"
        val repl =
          if (args.size == 3) s"coalesce($got, ${args(2)})" else got
        q = q.substring(0, m.start) + repl + q.substring(close + 1)
        go = true
      }
    }
    q
  }

  // CH typed JSONExtract(json, key…/index…, 'Type') [public docs:
  // json-functions#jsonextract] → VARIANT try_variant_get at the
  // composed path, coalesced onto the type's default value (CH's
  // non-Nullable contract: missing/ill-typed → 0 / '' / empty array).
  // String keys become .key steps, integer literals 1-based array
  // subscripts.
  private val jsonExtractRe = """(?i)\bJSONExtract\s*\(""".r

  private def rewriteJsonExtract(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      go = false
      val inStr = inStringMask(q)
      jsonExtractRe.findAllMatchIn(q).find(m => !inStr(m.start)).foreach { m =>
        val close = matchParenStr(q, m.end - 1)
        val args = splitTopLevel(q.substring(m.end, close)).map(_.trim)
        require(args.size >= 2,
          "JSONExtract(json[, key|index…], 'ReturnType')")
        val tl = args.last
        require(tl.length >= 2 && tl.head == '\'' && tl.last == '\'',
          s"JSONExtract: the return type must be a string literal, got $tl")
        val dt = chType(tl.substring(1, tl.length - 1))
        val path = args.slice(1, args.size - 1).map { k =>
          if (k.matches("""\d+""")) s"[${k.toInt - 1}]"
          else {
            require(k.length >= 2 && k.head == '\'' && k.last == '\'',
              s"JSONExtract: keys must be string or integer literals, got $k")
            "." + k.substring(1, k.length - 1)
          }
        }.mkString
        val default = dt match {
          case org.apache.spark.sql.types.StringType => "''"
          case org.apache.spark.sql.types.BooleanType => "false"
          case _: org.apache.spark.sql.types.ArrayType =>
            s"CAST(array() AS ${dt.sql})"
          case _: org.apache.spark.sql.types.NumericType =>
            s"CAST(0 AS ${dt.sql})"
          case _ => s"CAST(NULL AS ${dt.sql})"
        }
        val repl = s"coalesce(try_variant_get(try_parse_json(${args.head}), " +
          s"'$$$path', '${dt.sql}'), $default)"
        q = q.substring(0, m.start) + repl + q.substring(close + 1)
        go = true
      }
    }
    q
  }

  private def rewriteLexical(q0: String): String = {
    var q = rewriteBrackets(q0)
    q = rewriteTernary(q)
    q = rewriteTupleDots(q)
    q = rewriteCallDots(q)
    q = rewriteTrailingComma(q)
    q = rewritePosition(q)
    q = renameMasked(q, chAnyRe, "any_value(")
    q = rewriteTupleMapCast(q)
    q = rewriteChCastTypes(q)
    if (dateArithUnitRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = dateArithUnitRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement(
          s"${m.group(1)}('${m.group(2).toLowerCase(java.util.Locale.ROOT)}',"))
    }
    // the mirror direction: CH also spells dateAdd('day', n, d) with a
    // QUOTED unit, which Spark's own 3-arg dateadd/timestampadd
    // grammar rejects — strip the quotes into the bare keyword
    if (quotedUnitRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = quotedUnitRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement(
          s"${m.group(1)}(${m.group(2).toUpperCase(java.util.Locale.ROOT)},"))
    }
    q = rewriteHexAndSpecialLiterals(q)
    q = rewriteTimestampAddInterval(q)
    q = rewriteWindowFrameSpellings(q)
    q = rewriteVariantElement(q)
    q = rewriteJsonExtract(q)
    rewriteExtract(q)
  }

  // CH 2-arg form timestampAdd(x, INTERVAL n unit) / timestampSub —
  // Spark's builtin is the 3-arg (unit, n, ts) shape only, so the
  // INTERVAL form becomes plain +/- arithmetic
  private val tsAddIntervalRe =
    """(?i)\b(timestampAdd|timestamp_add|timestampSub|timestamp_sub)\s*\(""".r

  private def rewriteTimestampAddInterval(q0: String): String = {
    var q = q0
    var search = 0
    while (true) {
      val mask = inStringMask(q)
      tsAddIntervalRe.findFirstMatchIn(q.substring(search)) match {
        case None => return q
        case Some(m0) =>
          val start = search + m0.start
          if (mask(start)) { search = start + 1 }
          else {
            val open = search + m0.end - 1
            val close = matchParenStr(q, open)
            val args = splitTopLevel(q.substring(open + 1, close))
            if (args.size == 2 &&
                args(1).trim.toUpperCase(java.util.Locale.ROOT)
                  .startsWith("INTERVAL")) {
              val op =
                if (m0.group(1).toLowerCase(java.util.Locale.ROOT)
                      .contains("sub")) "-" else "+"
              val repl = s"((${args(0)}) $op ${args(1)})"
              q = q.substring(0, start) + repl + q.substring(close + 1)
              search = start + repl.length
            } else search = start + m0.end - m0.start
          }
      }
    }
    q
  }

  private val quotedUnitRe =
    ("""(?i)\b(dateAdd|date_add|timestampAdd|timestamp_add)""" +
      """\s*\(\s*'(year|quarter|month|week|day|hour|minute|second)'\s*,""").r

  // CH numeric spellings Spark's lexer lacks: 0xFF hex literals and
  // the bare inf / nan keywords
  private val hexLitRe = """\b0[xX][0-9a-fA-F]+\b""".r
  private val infNanRe = """(?i)(?<![\w.'])(inf|nan)(?![\w.'])""".r

  private def rewriteHexAndSpecialLiterals(q0: String): String = {
    var q = q0
    if (hexLitRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      q = hexLitRe.replaceAllIn(q, m =>
        if (mask(m.start)) Regex.quoteReplacement(m.matched)
        else Regex.quoteReplacement(
          java.lang.Long.parseLong(m.matched.substring(2), 16).toString))
    }
    if (infNanRe.findFirstIn(q).isDefined) {
      val mask = inStringMask(q)
      val asBefore = """(?is).*\bAS\s*$""".r
      q = infNanRe.replaceAllIn(q, m =>
        // `AS inf` is an alias, not the literal
        if (mask(m.start) ||
            asBefore.findFirstIn(q.substring(0, m.start)).isDefined)
          Regex.quoteReplacement(m.matched)
        else if (m.group(1).toLowerCase(java.util.Locale.ROOT) == "inf")
          "CAST('Infinity' AS DOUBLE)"
        else "CAST('NaN' AS DOUBLE)")
    }
    q
  }

  private val topNRe = """(?i)\bSELECT\s+TOP\s+(\d+)\s+""".r

  private def rewriteTopN(q: String): String =
    topNRe.findFirstMatchIn(q) match {
      case Some(m) if topLevelMask(q)(m.start) =>
        require(lastTopLevel(q, finalLimitRe).isEmpty,
          "TOP n and LIMIT cannot be combined")
        q.substring(0, m.start) + "SELECT " + q.substring(m.end) +
          s" LIMIT ${m.group(1)}"
      case _ => q
    }

  // ---- FROM t FINAL ------------------------------------------------
  // CH's read-time merge: `FROM t FINAL` applies the table engine's
  // collapse (Replacing latest / Collapsing net / VersionedCollapsing)
  // before the query sees rows. The engine key metadata doesn't exist
  // on a bare view, so — like sampling keys — it's registered
  // explicitly; unregistered tables fail loudly toward the operators.
  private val finalSpecs =
    scala.collection.concurrent.TrieMap[String, DataFrame => DataFrame]()

  def registerFinal(table: String, collapse: DataFrame => DataFrame): Unit =
    finalSpecs.put(table.toLowerCase(java.util.Locale.ROOT), collapse)

  private val fromFinalRe = """(?i)\bFROM\s+([A-Za-z_]\w*)\s+FINAL\b""".r

  private def rewriteFinal(spark: SparkSession, q: String): String =
    maskedReplaceAll(q, fromFinalRe) { m =>
      val t = m.group(1)
      val fn = finalSpecs.getOrElse(t.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
          s"FROM $t FINAL needs engine key metadata — " +
            s"""ChSql.registerFinal("$t", df => …) first (e.g. """ +
            "Relational.replacingLatest / versionedCollapseFinal)"))
      val v = s"graft_final_${sysSeq.incrementAndGet()}"
      fn(spark.table(t)).createOrReplaceTempView(v)
      // alias the collapsed view back to the table name so qualified
      // column references in the rest of the query keep resolving
      Regex.quoteReplacement(s"FROM $v $t")
    }

  // ---- star modifiers: * REPLACE, * APPLY, COLUMNS('re') -----------
  // CH's column-selector sugar. Spark owns `* EXCEPT (…)` natively;
  // the other three expand here against the FROM table's schema
  // (simple named-table FROM — subquery sources fail loudly).
  // APPLY names results `f(col)` exactly as CH prints them.
  private val starReplaceRe = """(?i)\*\s+REPLACE\s*\(""".r
  // both CH spellings: `* APPLY(f)` and `* APPLY f`
  private val starApplyRe =
    """(?i)\*\s+APPLY\s*(?:\(\s*([A-Za-z_]\w*)\s*\)|([A-Za-z_]\w*))""".r
  private val columnsFnRe = """(?i)\bCOLUMNS\s*\(\s*'([^']*)'\s*\)""".r

  /** Index of the close paren matching the open paren at `open`. */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens after $open in: $s")
  }

  private def rewriteStarMods(spark: SparkSession, q0: String): String = {
    var q = q0
    def sourceCols(s: String): Seq[String] =
      spark.table(firstFromTable(s)).columns.toSeq
    starReplaceRe.findFirstMatchIn(q).filter(m => topLevelMask(q)(m.start))
      .foreach { m =>
        val close = matchParen(q, m.end - 1)
        val repl = splitTopLevel(q.substring(m.end, close)).map { item =>
          val mm = asRe.findAllMatchIn(item).toSeq.lastOption.getOrElse(
            throw new IllegalArgumentException(
              s"* REPLACE items must be 'expr AS name': $item"))
          item.substring(mm.end).trim -> item.substring(0, mm.start).trim
        }.toMap
        val cols = sourceCols(q)
        val unknown = repl.keySet.diff(cols.toSet)
        require(unknown.isEmpty, s"* REPLACE of non-existent column(s) $unknown")
        val expand = cols.map(c => repl.get(c).map(e => s"$e AS $c").getOrElse(c))
        q = q.substring(0, m.start) + expand.mkString(", ") + q.substring(close + 1)
      }
    starApplyRe.findFirstMatchIn(q).filter(m => topLevelMask(q)(m.start))
      .foreach { m =>
        val f = Option(m.group(1)).getOrElse(m.group(2))
        val expand = sourceCols(q).map(c => s"$f($c) AS `$f($c)`")
        q = q.substring(0, m.start) + expand.mkString(", ") + q.substring(m.end)
      }
    // COLUMNS('re') [APPLY(f)]… — expand the regex against the FROM
    // schema, then wrap each column in the APPLY chain (innermost
    // first), naming results `f(col)` exactly as CH prints them
    // each APPLY link is a bare name, `(name)`, or a LAMBDA
    // `(x -> expr(x))` — the lambda's variable substitutes the column
    // text (CH's APPLY lambda form)
    val applyHeadRe = """(?is)^\s*APPLY\s*""".r
    val applyNameRe = """^([A-Za-z_]\w*)""".r
    val applyLamRe = """(?s)^([A-Za-z_]\w*)\s*->\s*(.+)$""".r
    var more = true
    while (more) {
      more = false
      columnsFnRe.findFirstMatchIn(q).filter(m => topLevelMask(q)(m.start))
        .foreach { m =>
          val re = m.group(1).r
          val keep = sourceCols(q).filter(c => re.findFirstIn(c).isDefined)
          require(keep.nonEmpty, s"COLUMNS('${m.group(1)}') matches no column")
          var end = m.end
          val fns =
            scala.collection.mutable.ArrayBuffer.empty[String => String]
          var go2 = true
          while (go2) {
            go2 = false
            applyHeadRe.findPrefixMatchOf(q.substring(end)).foreach { h =>
              val p = end + h.end
              if (p < q.length && q.charAt(p) == '(') {
                val close = matchParenStr(q, p)
                q.substring(p + 1, close).trim match {
                  case applyLamRe(v, b) =>
                    val vre = "\\b" + java.util.regex.Pattern.quote(v) + "\\b"
                    fns += ((x: String) =>
                      b.replaceAll(vre, Regex.quoteReplacement(x)))
                  case nm if nm.matches("[A-Za-z_]\\w*") =>
                    fns += ((x: String) => s"$nm($x)")
                  case other => throw new IllegalArgumentException(
                    s"APPLY expects a function name or `x -> expr`: '$other'")
                }
                end = close + 1
                go2 = true
              } else applyNameRe.findPrefixMatchOf(q.substring(p)).foreach {
                nm =>
                  fns += ((x: String) => s"${nm.group(1)}($x)")
                  end = p + nm.end
                  go2 = true
              }
            }
          }
          val expand =
            if (fns.isEmpty) keep.mkString(", ")
            else keep.map { c =>
              val e = fns.foldLeft(c)((x, f) => f(x))
              s"$e AS `$e`"
            }.mkString(", ")
          q = q.substring(0, m.start) + expand + q.substring(end)
          more = true
        }
    }
    q
  }

  // ---- parametric aggregate combinators: f(params)(args) -----------

  /** [[matchParen]] that also skips parens inside '…' literals —
    * needed here because parametric payloads carry pattern strings
    * with parens, e.g. `sequenceMatch('(?1)(?2)')(ts, c1, c2)`.
    */
  private def matchParenStr(s: String, open: Int): Int = {
    var depth = 0
    var inStr = false
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        // `--` line comment: apostrophes inside must not open a string
        while (i < s.length && s.charAt(i) != '\n') i += 1
        i -= 1 // the ++ below lands on the newline
      } else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens after $open in: $s")
  }

  /** mask(i) = char i is inside a '…' literal or a `--` comment. */
  private def inStringMask(s: String): Array[Boolean] = {
    val in = new Array[Boolean](s.length)
    var inStr = false
    var i = 0
    while (i < s.length) {
      if (!inStr && s.charAt(i) == '-' && i + 1 < s.length &&
        s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') { in(i) = true; i += 1 }
      } else {
        if (s.charAt(i) == '\'') { in(i) = true; inStr = !inStr }
        else in(i) = inStr
        i += 1
      }
    }
    in
  }

  // longest-prefix names first so e.g. `quantiles` never half-matches
  // as `quantile`; the optional trailing `If` is CH's -If combinator
  // on a parametric aggregate (`quantileIf(0.5)(x, cond)`) and becomes
  // a FILTER clause on the expanded call
  private val paramAggRe =
    ("""(?i)\b(quantilesExact|quantileExactWeighted|quantileExactInclusive|""" +
      """quantileExactExclusive|quantileExactLow|quantileExactHigh|quantileExact|""" +
      """quantileTiming|quantileTDigest|quantileBFloat16|quantileDeterministic|""" +
      """quantileInterpolatedWeighted|quantilesGK|quantileGK|quantiles|quantile|""" +
      """uniqUpTo|uniqCombined|""" +
      """groupArrayMovingSum|groupArrayMovingAvg|sumMapFiltered|""" +
      """groupArrayInsertAt|""" +
      """groupArraySorted|groupArrayLast|groupArraySample|groupArray|""" +
      """exponentialTimeDecayedAvg|exponentialTimeDecayedSum|""" +
      """exponentialTimeDecayedCount|exponentialTimeDecayedMax|""" +
      """largestTriangleThreeBuckets|lttb|""" +
      """approx_top_sum|approx_top_k|approx_top_count|""" +
      """stochasticLinearRegressionState|stochasticLinearRegression|""" +
      """stochasticLogisticRegressionState|stochasticLogisticRegression|""" +
      """sparkbar|meanZTest|mannWhitneyUTest|kolmogorovSmirnovTest|""" +
      """groupConcat|group_concat|""" +
      """topKWeighted|topK|histogram|windowFunnel|sequenceMatch|sequenceCount|""" +
      """largestTriangleThreeBuckets|""" +
      """exponentialMovingAverage|[A-Za-z_]\w*Resample|""" +
      // catch-all for the long tail of quantile spellings
      // (quantileTimingWeighted, quantilesTDigest, …): the explicit
      // alternatives above win first. LAZY \w*? so a trailing `If`
      // is captured by group 2 (the -If combinator → FILTER clause)
      // instead of being absorbed into the name — a greedy \w* sent
      // quantileBFloat16WeightedIf's condition into the generic
      // fallback as a frequency weight
      """quantiles?\w*?)""" +
      """(If)?\s*\(""").r

  /** ClickHouse's parametric-aggregate call syntax `f(params)(args)`
    * [public docs: sql-reference/aggregate-functions/parametric-
    * functions]. Spark's parser has no two-group call form, so the
    * parametric shape is rewritten here:
    *
    *   - `quantile[Exact](p)(x)`   → `graft_quantile_exact(x, p)` —
    *     Spark-percentile-identical exact rank interpolation over a
    *     primitive-vector state (functions/QuantileExact.scala); CH's
    *     plain `quantile` is sampling-based — documented estimate
    *     drift, exactness is the safer default. The weighted forms
    *     keep Spark's `percentile(x, p, w)`.
    *   - `quantiles[Exact](p…)(x)` → `graft_quantile_exact(x, array(p…))`
    *   - `uniqUpTo(n)(x)`          → capped-set UDAF (exact ≤ n,
    *     saturates at n+1; fuses into one ObjectHashAggregate pass —
    *     no count(DISTINCT) Expand regroup)
    *   - `topK(k)(x)` / `topKWeighted(k)(x, w)` / `histogram(n)(x)` /
    *     `windowFunnel(w[, 'mode'…])(ts, c…)` / `sequenceMatch('pat')
    *     (ts, c…)` / `sequenceCount('pat')(ts, c…)` → a UDAF over the
    *     proven Aggregator is registered ON DEMAND under a
    *     parameter-mangled name (`__ch_topk_5`, …) and the call text
    *     is rewritten onto it. Registration is driver-side and
    *     idempotent; the executed plan is the same two-phase
    *     partial/final aggregation the library entries run.
    *
    * windowFunnel/sequence* require a TIMESTAMP first argument and
    * take window/gap parameters in SECONDS (CH semantics on a
    * DateTime column); conditions are null-safe-coalesced to false.
    */
  /** Parameter-mangled UDAF names are registered once per session —
    * the name encodes every parameter, so a second registration is
    * byte-identical; skipping it saves ~1 s of Aggregator
    * construction + registry work per query that was re-paid on
    * every `sql_ch_parametric`-shaped run.
    */
  private def registerOnce(spark: SparkSession, fn: String)(
      mk: => org.apache.spark.sql.expressions.UserDefinedFunction): Unit =
    SessionCache(spark).once(s"udaf:$fn") { spark.udf.register(fn, mk) }

  private def rewriteParametric(spark: SparkSession, q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      go = false
      val inStr = inStringMask(q)
      // first match whose shape really is f(params)(args); a plain
      // one-group call (e.g. Spark-spelled percentile) passes through
      val hit = paramAggRe.findAllMatchIn(q).filterNot(m => inStr(m.start))
        .flatMap { m =>
          val p1open = m.end - 1
          val p1close = matchParenStr(q, p1open)
          var j = p1close + 1
          while (j < q.length && q.charAt(j).isWhitespace) j += 1
          if (j < q.length && q.charAt(j) == '(')
            Some((m, p1open, p1close, j, matchParenStr(q, j)))
          else None
        }.take(1).toList.headOption
      hit.foreach { case (m, p1open, p1close, p2open, p2close) =>
        val params = splitTopLevel(q.substring(p1open + 1, p1close))
        var args = splitTopLevel(q.substring(p2open + 1, p2close))
        // -If combinator: the trailing condition becomes a FILTER
        // clause on the expanded aggregate call — correct for every
        // form incl. the on-demand UDAFs (rows are dropped BEFORE the
        // aggregate sees them, exactly CH's contract)
        var filt = ""
        if (m.group(2) != null) {
          require(args.size >= 2,
            s"${m.group(1)}If(params)(args…, cond) needs a trailing condition")
          filt = s" FILTER (WHERE coalesce(CAST((${args.last}) AS BOOLEAN), false))"
          args = args.init
        }
        val repl = expandParametric(spark, m.group(1), params, args, filt)
        q = q.substring(0, m.start) + repl + q.substring(p2close + 1)
        go = true
      }
    }
    q
  }

  private def expandParametric(spark: SparkSession, name0: String,
      params: Seq[String], args: Seq[String], filt: String): String = {
    import graft.ops.Aggregates
    val name = name0.toLowerCase(java.util.Locale.ROOT)
    def intParam(i: Int): Int = {
      require(i < params.size && params(i).matches("""\d+"""),
        s"$name0: parameter ${i + 1} must be an integer literal, " +
          s"got ${params.lift(i).getOrElse("<missing>")}")
      params(i).toInt
    }
    def strParam(i: Int): String = {
      val p = params.lift(i).getOrElse("")
      require(p.length >= 2 && p.head == '\'' && p.last == '\'',
        s"$name0: parameter ${i + 1} must be a string literal, got '$p'")
      p.substring(1, p.length - 1)
    }
    def nArgs(n: Int): Unit = require(args.size == n,
      s"$name0 takes $n argument(s), got ${args.size}")
    // windowFunnel/sequence* conditions: null-safe booleans, CH treats
    // NULL conditions as not-matched
    def condArray: String = args.tail
      .map(c => s"coalesce(CAST(($c) AS BOOLEAN), false)").mkString(", ")
    name match {
      // All quantile spellings map to Spark's percentile = linear
      // interpolation over the exact sorted multiset, i.e. CH's
      // quantileExactInclusive. CH's PLAIN quantileExact returns an
      // actual element (no interpolation) and quantile/Timing/TDigest
      // are approximations — in every case the inclusive-interpolated
      // value sits inside the CH form's answer envelope, so this is
      // the conservative, deterministic substitution (element-exact
      // rank selection is ops/Quantiles; the bucketed timing
      // histogram itself is agg_quantile_timing).
      case "quantile" | "quantileexact" | "quantileexactinclusive" |
           "quantiletiming" | "quantiletdigest" | "quantilebfloat16" =>
        // graft_quantile_exact (functions/QuantileExact.scala), not
        // Spark's percentile: same interpolation arithmetic
        // bit-for-bit, but raw primitive-vector state instead of a
        // boxed OpenHashMap — ~10× cheaper per row (round 12,
        // sql_ch_parametric), and CH quantileExact's own O(n) shape
        require(params.size == 1, s"$name0 takes one level parameter"); nArgs(1)
        s"graft_quantile_exact(CAST(${args.head} AS DOUBLE), " +
          s"CAST(${params.head} AS DOUBLE))$filt"
      case "quantileexactexclusive" =>
        // PERCENTILE.EXC: rank h = p(n+1) over the sorted multiset,
        // linear interpolation, clamped to [1, n]
        require(params.size == 1, s"$name0 takes one level parameter"); nArgs(1)
        val (p, x) = (params.head, args.head)
        val l = s"array_sort(collect_list($x)$filt)"
        val n = s"count($x)$filt"
        val h = s"greatest(least($p * ($n + 1), CAST($n AS DOUBLE)), 1.0)"
        val k = s"CAST(floor($h) AS INT)"
        s"(element_at($l, $k) + ($h - $k) * " +
          s"(element_at($l, least($k + 1, CAST($n AS INT))) - element_at($l, $k)))"
      case "quantileexactlow" | "quantileexacthigh" =>
        // CH's element-exact picks (QuantileExact semantics): index
        // floor(level·n) into the sorted multiset, clamped to n−1 —
        // an ACTUAL element, no interpolation. level=0.5 is the one
        // special case (lower/upper middle): the variants differ only
        // there — on even n, Low takes n/2−1 where High takes n/2
        // (floor(0.5·n) already equals High's pick at every n).
        require(params.size == 1, s"$name0 takes one level parameter"); nArgs(1)
        val x = args.head
        val c = s"count($x)$filt"
        val isMedian =
          scala.util.Try(params.head.trim.toDouble == 0.5).getOrElse(false)
        val idx0 =
          if (isMedian && name == "quantileexactlow")
            s"($c DIV 2) - (CASE WHEN $c % 2 = 0 THEN 1 ELSE 0 END)"
          else
            s"least(CAST(floor(${params.head} * $c) AS BIGINT), $c - 1)"
        s"element_at(array_sort(collect_list($x)$filt), CAST($idx0 AS INT) + 1)"
      case "grouparraylast" =>
        // CH keeps the LAST n in encounter order — nondeterministic on
        // any parallel engine; the deterministic reinterpretation is
        // the n LARGEST values ascending (mirrors groupArraySorted's
        // n-smallest contract)
        nArgs(1)
        s"reverse(slice(reverse(array_sort(collect_list(${args.head})$filt)), " +
          s"1, ${intParam(0)}))"
      case "largesttrianglethreebuckets" =>
        // largestTriangleThreeBuckets(n)(x, y) → the collected-state
        // LTTB UDAF (ops/Aggregates.Lttb): classic mean-anchor
        // downsampling over the group's sorted series, array of (x, y)
        // tuples out [CH docs: aggregate-functions/reference/
        // largestTriangleThreeBuckets]; capped at 2^24 points/group
        // with loud guidance toward the relational agg_lttb form.
        require(params.size == 1, s"$name0 takes the bucket-count parameter")
        require(filt.isEmpty, s"${name0}If is not supported")
        nArgs(2)
        val nb = intParam(0)
        val fn = s"__ch_lttb_$nb"
        registerOnce(spark, fn)(udaf(new Aggregates.Lttb(nb)))
        s"$fn(CAST(${args(0)} AS DOUBLE), CAST(${args(1)} AS DOUBLE))"
      case "mannwhitneyutest" =>
        // mannWhitneyUTest(['alternative'[, continuity]])(sample, idx)
        // → the collected-state UDAF (ops/Aggregates.MannWhitneyU);
        // tie-corrected normal approximation, p for the alternative
        require(params.size <= 2, s"$name0 takes (alternative[, continuity])")
        require(filt.isEmpty, s"${name0}If is not supported")
        nArgs(2)
        val alt = params.headOption
          .map(_.trim.stripPrefix("'").stripSuffix("'"))
          .getOrElse("two-sided")
        val cc = params.lift(1).map(_.trim != "0").getOrElse(true)
        val fn = s"__ch_mwu_${alt.replace("-", "_")}_${if (cc) 1 else 0}"
        registerOnce(spark, fn)(
          udaf(new graft.ops.Aggregates.MannWhitneyU(alt, cc)))
        s"$fn(CAST(${args(0)} AS DOUBLE), CAST(${args(1)} AS BIGINT))"
      case "kolmogorovsmirnovtest" =>
        // kolmogorovSmirnovTest(['two-sided'[, 'asymptotic']])(x, i) →
        // collected-state UDAF (asymptotic Kolmogorov p)
        require(params.size <= 2, s"$name0 takes (alternative[, method])")
        require(filt.isEmpty, s"${name0}If is not supported")
        nArgs(2)
        val ksAlt = params.headOption
          .map(_.trim.stripPrefix("'").stripSuffix("'"))
          .getOrElse("two-sided")
        params.lift(1).map(_.trim.stripPrefix("'").stripSuffix("'")).foreach {
          m => require(m == "asymptotic",
            s"$name0: only the 'asymptotic' method is supported, got '$m'")
        }
        val ksFn = s"__ch_ks_${ksAlt.replace("-", "_")}"
        registerOnce(spark, ksFn)(
          udaf(new graft.ops.Aggregates.KolmogorovSmirnov(ksAlt)))
        s"$ksFn(CAST(${args(0)} AS DOUBLE), CAST(${args(1)} AS BIGINT))"
      case "meanztest" =>
        // meanZTest(pop_var_x, pop_var_y, conf)(sample, index 0|1) →
        // (z, p, ci_low, ci_high) with KNOWN population variances
        // [CH docs: aggregate-functions/reference/meanztest]. Means
        // from DECIMAL-lattice sums; p = erfc(|z|/√2); CI half-width
        // probit(1 − (1−conf)/2)·se (both special functions are
        // registered dialect UDFs).
        require(params.size == 3, s"$name0 takes (var_x, var_y, conf)")
        require(filt.isEmpty, s"${name0}If is not supported")
        nArgs(2)
        val (x, ix) = (args(0), args(1))
        def n(i: Int) =
          s"CAST(count(CASE WHEN CAST($ix AS INT) = $i THEN 1 END) AS DOUBLE)"
        def m(i: Int) =
          s"(CAST(sum(CASE WHEN CAST($ix AS INT) = $i " +
            s"THEN CAST($x AS DECIMAL(22,6)) END) AS DOUBLE) / ${n(i)})"
        val se = s"sqrt(CAST(${params(0)} AS DOUBLE) / ${n(0)} + " +
          s"CAST(${params(1)} AS DOUBLE) / ${n(1)})"
        val diff = s"(${m(0)} - ${m(1)})"
        val z = s"($diff / $se)"
        val zc = s"probit(1.0 - (1.0 - CAST(${params(2)} AS DOUBLE)) / 2)"
        s"named_struct('z_statistic', $z, " +
          s"'p_value', erfc(abs($z) / sqrt(2.0)), " +
          s"'ci_low', $diff - $zc * $se, " +
          s"'ci_high', $diff + $zc * $se)"
      case "grouparraysample" =>
        // CH samples k values with a seed-driven RNG — nondeterministic
        // across engines; the deterministic reinterpretation is the k
        // md5-hash-smallest values (seed folded into the hash), the
        // same hash-order convention SAMPLE n and stratified sampling
        // use. Exact-k, executor-count independent.
        require(params.size == 1 || params.size == 2,
          s"$name0 takes (k[, seed])")
        nArgs(1)
        val seed = if (params.size == 2) params(1) else "0"
        val h = s"CAST(conv(substring(md5(concat('gas|', " +
          s"CAST($seed AS STRING), '|', CAST(__g AS STRING))), 1, 15), " +
          s"16, 10) AS BIGINT)"
        // default struct ordering sorts by (h, v) — hash first, value
        // tie-break — so no custom comparator lambda is needed
        s"transform(slice(array_sort(transform(" +
          s"collect_list(${args.head})$filt, __g -> struct($h AS h, __g AS v))), " +
          s"1, ${intParam(0)}), __s -> __s.v)"
      case "exponentialtimedecayedavg" | "exponentialtimedecayedsum" |
           "exponentialtimedecayedcount" | "exponentialtimedecayedmax" =>
        // exponentialTimeDecayed*(λ)(value, time) [public docs:
        // aggregate-functions/reference/exponentialtimedecayed*]:
        // weights w_i = exp((t_i − t_max)/λ) evaluated at the group's
        // LATEST time point — commutative over (v, t) pairs, so the
        // collected-pair expansion is executor-count independent. The
        // max-shift keeps every exp() argument ≤ 0 (no overflow at
        // unix-epoch magnitudes). Count takes only the time column.
        require(params.size == 1 &&
          params.head.trim.matches("""[-+]?\d+(\.\d+)?([eE][-+]?\d+)?"""),
          s"$name0 takes one numeric decay-length parameter")
        val lam = s"CAST(${params.head} AS DOUBLE)"
        val isCount = name.endsWith("count")
        if (isCount) nArgs(1) else nArgs(2)
        val tArg = if (isCount) args(0) else args(1)
        val vExpr = if (isCount) "1D" else s"CAST(${args(0)} AS DOUBLE)"
        // array_sort makes the FP fold order canonical — collect_list
        // order varies with partitioning and doubles don't commute
        val pairs = s"array_sort(collect_list(struct($vExpr AS v, " +
          s"CAST($tArg AS DOUBLE) AS t))$filt)"
        val w = s"exp((__q.t - __m) / $lam)"
        val fold = name match {
          case n if n.endsWith("sum") || n.endsWith("count") =>
            s"aggregate(__ps, 0D, (__a, __q) -> __a + __q.v * $w)"
          case n if n.endsWith("max") =>
            s"aggregate(__ps, CAST('-Infinity' AS DOUBLE), " +
              s"(__a, __q) -> greatest(__a, __q.v * $w))"
          case _ => // avg = Σv·w / Σw via one struct-accumulator pass
            s"element_at(transform(array(aggregate(__ps, " +
              s"named_struct('s', 0D, 'c', 0D), (__a, __q) -> " +
              s"named_struct('s', __a.s + __q.v * $w, 'c', __a.c + $w))), " +
              s"__sc -> __sc.s / __sc.c), 1)"
        }
        s"element_at(transform(array($pairs), __ps -> " +
          s"element_at(transform(array(array_max(transform(__ps, " +
          s"__r -> __r.t))), __m -> $fold), 1)), 1)"
      case "largesttrianglethreebuckets" | "lttb" =>
        // classic sequential LTTB [Steinarsson 2013, public thesis]
        // over the x-sorted collected series — the on-demand UDAF
        // sorts in finish(), so the result is executor-count
        // independent; the relational mean-anchor variant (agg_lttb)
        // remains the unbounded-series scale path.
        require(params.size == 1, s"$name0 takes the bucket-count parameter")
        nArgs(2)
        val nb = intParam(0)
        val fn = s"__ch_lttb_$nb"
        registerOnce(spark, fn)(udaf(new Aggregates.Lttb(nb)))
        s"$fn(CAST(${args(0)} AS DOUBLE), CAST(${args(1)} AS DOUBLE))$filt"
      case "grouparrayinsertat" =>
        // groupArrayInsertAt(default, size)(x, pos): fixed-size array
        // with x at position pos (0-based), default elsewhere. CH
        // keeps an ARBITRARY x on position collisions — the
        // deterministic reinterpretation is the MINIMUM (same
        // convention as groupArrayLast/groupArraySample).
        require(params.size == 2, s"$name0 takes (default, size) parameters")
        nArgs(2)
        val sz = {
          require(params(1).matches("""\d+"""),
            s"$name0: size must be an integer literal")
          params(1).toInt
        }
        val pairs = s"collect_list(struct(CAST(${args(1)} AS INT) AS p, " +
          s"${args(0)} AS v))$filt"
        s"element_at(transform(array($pairs), __ps -> " +
          s"transform(sequence(0, ${sz - 1}), __i -> " +
          s"coalesce(array_min(transform(filter(__ps, __q -> __q.p = __i), " +
          s"__q2 -> __q2.v)), ${params(0)}))), 1)"
      case "sparkbar" =>
        // CH sparkbar(width)(x, y): the ▁▂▃▄▅▆▇█ inline histogram over
        // (bucket, weight) pairs — glyph level ⌈8·y/max(y)⌉ per
        // x-ascending bucket, exact integer arithmetic (the same
        // contract the library entry agg_sparkbar pins to an oracle).
        // width caps the buckets rendered. The single aggregate is
        // wrapped in array(...) and unwrapped through a transform
        // lambda so max(y) can be referenced without putting an
        // aggregate inside a lambda body.
        require(params.size == 1, s"$name0 takes the width parameter")
        nArgs(2)
        val pairs = s"collect_list(struct(CAST(${args(0)} AS BIGINT) AS x, " +
          s"CAST(${args(1)} AS BIGINT) AS y))$filt"
        val glyphs = "array('▁','▂','▃','▄','▅','▆','▇','█')"
        // per-distinct-x y sums, x ascending, FIRST `width` buckets —
        // repeated x values sum like CH; the distinct-x list is sliced
        // to `width` before the per-bucket folds, so cost is
        // O(width · pairs), and the two array(...)→transform wraps let
        // the pair list and the sum list be referenced repeatedly
        // without aggregates inside lambdas.
        val ys = s"transform(slice(array_sort(array_distinct(" +
          s"transform(__all, __q -> __q.x))), 1, ${intParam(0)}), " +
          s"__x -> aggregate(filter(__all, __p -> __p.x = __x), " +
          s"CAST(0 AS BIGINT), (__a, __p2) -> __a + __p2.y))"
        s"element_at(transform(array($pairs), __all -> " +
          s"element_at(transform(array($ys), __ys -> " +
          s"array_join(transform(__ys, __y -> element_at($glyphs, " +
          s"greatest(1, CAST((__y * 8 + array_max(__ys) - 1) " +
          s"DIV array_max(__ys) AS INT)))), '')), 1)), 1)"
      case "quantiles" | "quantilesexact" =>
        require(params.nonEmpty, s"$name0 needs at least one level"); nArgs(1)
        s"graft_quantile_exact(CAST(${args.head} AS DOUBLE), " +
          s"CAST(array(${params.mkString(", ")}) AS ARRAY<DOUBLE>))$filt"
      case "quantilegk" | "quantilesgk" =>
        // CH's Greenwald–Khanna sketch quantile — Spark's
        // percentile_approx IS a GK sketch; the first parameter is
        // the accuracy budget in both engines
        require(params.size >= 2,
          s"$name0(accuracy, level…)(x) needs accuracy + level(s)")
        nArgs(1)
        val acc = intParam(0)
        val levels = params.tail
        if (name == "quantilegk") {
          require(levels.size == 1, s"$name0 takes one level")
          s"approx_percentile(${args.head}, ${levels.head}, $acc)$filt"
        } else
          s"approx_percentile(${args.head}, array(${levels.mkString(", ")}), $acc)$filt"
      case "quantiledeterministic" =>
        // the determinator argument only seeds CH's reservoir sampling;
        // the exact interpolated quantile ignores it
        require(params.size == 1, s"$name0 takes one level parameter"); nArgs(2)
        s"graft_quantile_exact(CAST(${args.head} AS DOUBLE), " +
          s"CAST(${params.head} AS DOUBLE))$filt"
      case "quantileinterpolatedweighted" | "quantileexactweighted" =>
        require(params.size == 1, s"$name0 takes one level parameter"); nArgs(2)
        // Spark's percentile takes the weight as its frequency column
        s"percentile(${args(0)}, ${params.head}, CAST(${args(1)} AS BIGINT))$filt"
      case "uniqupto" =>
        // NOT least(count(DISTINCT x), n+1): count(DISTINCT) plans a
        // two-level Expand regroup that breaks the single
        // ObjectHashAggregate pass when mixed with percentile-family
        // neighbours (3 exchanges instead of 1 — measured ~0.9 s on
        // sql_ch_parametric, round 12). The capped-set Aggregator is
        // the same value with O(n) state and no distinct expansion.
        nArgs(1)
        val n = intParam(0)
        val fn = s"__ch_uniqupto_$n"
        registerOnce(spark, fn)(udaf(new Aggregates.UniqUpTo(n)))
        // Distinctness is over the RENDERED value; the one case where
        // Spark-SQL-equal values render differently is -0.0 vs 0.0
        // (NaNs render uniformly and compare equal in Spark SQL), so
        // canonicalize that rendering before the set insert.
        s"$fn(CASE WHEN CAST(${args.head} AS STRING) = '-0.0' " +
          s"THEN '0.0' ELSE CAST(${args.head} AS STRING) END)$filt"
      case "grouparraysorted" | "grouparray" =>
        // N smallest values, ascending — deterministic at any
        // executor count (unlike bare groupArray's encounter order;
        // the parametric groupArray(n) keeps CH's size cap with the
        // same deterministic reinterpretation)
        nArgs(1)
        s"slice(array_sort(collect_list(${args.head})$filt), 1, ${intParam(0)})"
      case "grouparraymovingsum" | "grouparraymovingavg" =>
        // windowed moving sum over the SORTED multiset (CH's block
        // order is nondeterministic at any parallelism — same
        // deterministic contract as the unparameterized macro):
        // ms_i = cs_i − cs_{i−w} via a zero-padded shifted cumsum, so
        // aggregates stay OUTSIDE the lambdas. MovingAvg divides by
        // the window size (CH contract), in `/` DOUBLE semantics.
        require(params.size == 1, s"$name0 takes one window parameter")
        nArgs(1)
        val w = intParam(0)
        require(w > 0, s"$name0 window must be positive, got $w")
        val cs = s"arrayCumSum(array_sort(collect_list(${args.head})$filt))"
        val sh = s"concat(array_repeat(element_at($cs, 1) * 0, " +
          s"least($w, size($cs))), slice($cs, 1, greatest(size($cs) - $w, 0)))"
        val ms = s"zip_with($cs, $sh, (__ma, __mb) -> __ma - __mb)"
        if (name == "grouparraymovingsum") ms
        else s"transform($ms, __ms -> __ms / $w)"
      case "summapfiltered" =>
        // sumMap restricted to a literal key list: filter (key, value)
        // pairs positionally, then feed the plain sumMap
        require(params.size == 1, s"$name0 takes one key-list parameter")
        require(filt.isEmpty, s"${name0}If is not supported")
        nArgs(2)
        val (k, v) = (args(0), args(1))
        val idx = s"filter(sequence(1, size($k)), " +
          s"__i -> array_contains(${params.head}, element_at($k, __i)))"
        s"sumMap(transform($idx, __i -> element_at($k, __i)), " +
          s"transform($idx, __i -> element_at($v, __i)))"
      case "uniqcombined" =>
        // HLL precision p → Spark's rsd ≈ 1.04 / sqrt(2^p), the
        // standard-error identity both sketches share
        nArgs(1)
        val p = intParam(0)
        require(p >= 4 && p <= 20, s"uniqCombined precision must be 4..20, got $p")
        val rsd = 1.04 / math.sqrt(math.pow(2.0, p.toDouble))
        s"approx_count_distinct(${args.head}, $rsd)$filt"
      case "topk" =>
        nArgs(1)
        val k = intParam(0)
        val fn = s"__ch_topk_$k"
        registerOnce(spark, fn)(udaf(new Aggregates.TopK(k, math.max(64, 8 * k))))
        s"transform($fn(CAST(${args.head} AS STRING))$filt, __e -> __e.v)"
      case "stochasticlinearregression" | "stochasticlinearregressionstate" |
           "stochasticlogisticregression" | "stochasticlogisticregressionstate" =>
        // stochastic*Regression(lr, l2, batch, 'method')(y, x…) → the
        // deterministic fits in ops/Aggregates (closed-form ridge /
        // fixed-round gradient descent). The returned struct IS the
        // model state (CH's -State spelling lands here too); feed it
        // to evalMLMethod(model, x…). lr/batch/'method' steer only
        // CH's optimizer — accepted and ignored; l2 is honored.
        require(params.size <= 4,
          s"$name0 takes at most (lr, l2, batch, 'method') parameters")
        val l2 = params.lift(1).map { p =>
          require(p.trim.matches("""[-+]?\d+(\.\d+)?([eE][-+]?\d+)?"""),
            s"$name0: l2 must be a numeric literal, got '$p'")
          p.trim.toDouble
        }.getOrElse(0.1)
        require(args.size >= 2,
          s"$name0(params)(target, x1…) needs a target and ≥1 feature")
        val dims = args.size - 1
        val isLog = name.startsWith("stochasticlogistic")
        val fnKind = if (isLog) "slogreg" else "slinreg"
        val fnml = s"__ch_${fnKind}_${dims}_${l2.toString.replace('.', '_').replace('-', 'm')}"
        registerOnce(spark, fnml)(udaf(
          if (isLog) new Aggregates.LogRegFit(dims, l2)
          else new Aggregates.LinRegFit(dims, l2)))
        val feats = args.tail.map(x => s"CAST($x AS DOUBLE)").mkString(", ")
        s"$fnml(CAST(${args.head} AS DOUBLE), array($feats))$filt"
      case "approx_top_k" | "approx_top_count" | "approx_top_sum" =>
        // approx_top_k(N[, reserved])(x) / approx_top_sum(N[, r])(x, w)
        // [CH docs: aggregate-functions/reference/approxtopk] — the
        // same SpaceSaving machinery as topK/topKWeighted, but the
        // result keeps the (item, count, error) tuples. The optional
        // second parameter sizes the reserved counter pool.
        val k = intParam(0)
        val cap = if (params.size >= 2) math.max(intParam(1), k)
          else math.max(64, 8 * k)
        if (name == "approx_top_sum") {
          nArgs(2)
          val fn = s"__ch_atops_${k}_$cap"
          registerOnce(spark, fn)(udaf(new Aggregates.TopKWeighted(k, cap)))
          s"transform($fn(CAST(${args(0)} AS STRING), " +
            s"CAST(${args(1)} AS BIGINT))$filt, __e -> " +
            "named_struct('item', __e.v, 'count', __e.c, " +
            "'error', CAST(0 AS BIGINT)))"
        } else {
          nArgs(1)
          val fn = s"__ch_atopk_${k}_$cap"
          registerOnce(spark, fn)(udaf(new Aggregates.TopK(k, cap)))
          s"transform($fn(CAST(${args.head} AS STRING))$filt, __e -> " +
            "named_struct('item', __e.v, 'count', __e.c, " +
            "'error', CAST(0 AS BIGINT)))"
        }
      case "topkweighted" =>
        nArgs(2)
        val k = intParam(0)
        val fn = s"__ch_topkw_$k"
        registerOnce(spark, fn)(
          udaf(new Aggregates.TopKWeighted(k, math.max(64, 8 * k))))
        s"transform($fn(CAST(${args(0)} AS STRING), CAST(${args(1)} AS BIGINT))$filt, " +
          "__e -> __e.v)"
      case "histogram" =>
        nArgs(1)
        val n = intParam(0)
        val fn = s"__ch_histogram_$n"
        registerOnce(spark, fn)(udaf(new Aggregates.AdaptiveHistogram(n)))
        s"$fn(CAST(${args.head} AS DOUBLE))$filt"
      case "windowfunnel" =>
        require(filt.isEmpty, "windowFunnelIf is not a ClickHouse form")
        require(args.size >= 2, "windowFunnel(w)(ts, cond1…) needs a " +
          "timestamp and at least one condition")
        val w = intParam(0) // seconds — the ts argument is cast to TIMESTAMP
        val modes = params.drop(1).indices.map(i => strParam(i + 1)).toSet
        val bad = modes.diff(Set("strict_order", "strict_deduplication", "strict_increase"))
        require(bad.isEmpty, s"windowFunnel: unknown mode(s) $bad")
        val n = args.size - 1
        val wUs = w.toLong * 1000000L
        val inner =
          if (modes.isEmpty) new Aggregates.WindowFunnel(wUs, n)
          else new Aggregates.WindowFunnelModes(wUs, n,
            strictOrder = modes("strict_order"),
            strictDedup = modes("strict_deduplication"),
            strictIncrease = modes("strict_increase"))
        val fn = s"__ch_funnel_${w}_${n}_" +
          modes.toSeq.sorted.map(_.charAt(7)).mkString
        registerOnce(spark, fn)(udaf(new Aggregates.CondsAdapter(inner, n)))
        s"$fn(unix_micros(CAST(${args.head} AS TIMESTAMP)), array($condArray))"
      case "sequencematch" | "sequencecount" =>
        require(filt.isEmpty, s"${name0}If is not a ClickHouse form")
        require(params.size == 1, s"$name0 takes one pattern parameter")
        require(args.size >= 2, s"$name0('pat')(ts, cond1…) needs a " +
          "timestamp and at least one condition")
        val pat = strParam(0)
        val n = args.size - 1
        val fn = s"__ch_seq${name.drop(8)}_${n}_" +
          java.security.MessageDigest.getInstance("MD5")
            .digest(pat.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        if (name == "sequencematch")
          registerOnce(spark, fn)(udaf(new Aggregates.CondsAdapter(
            new Aggregates.SequenceMatchPattern(pat, n), n)))
        else
          registerOnce(spark, fn)(udaf(new Aggregates.CondsAdapter(
            new Aggregates.SequenceCountPattern(pat, n), n)))
        s"$fn(unix_micros(CAST(${args.head} AS TIMESTAMP)), array($condArray))"
      case "exponentialmovingaverage" =>
        require(params.size == 1 && params.head.matches("""-?\d+(\.\d+)?"""),
          s"$name0 takes one numeric halflife parameter")
        nArgs(2)
        val h = params.head.toDouble
        val fn = s"__ch_ema_${java.lang.Double.doubleToLongBits(h)}"
        registerOnce(spark, fn)(udaf(new Aggregates.ExpMovingAvg(h)))
        s"$fn(CAST(${args(0)} AS DOUBLE), CAST(${args(1)} AS DOUBLE))$filt"
      // -Resample combinator [public docs: sql-reference/aggregate-
      // functions/combinators#-resample]: fResample(start, end, step)
      // (x, key) splits [start, end) into ceil((end-start)/step)
      // subintervals by key (last one clipped to end; keys outside the
      // range ignored) and returns the array of per-subinterval
      // aggregates. Buckets are known at parse time, so the rewrite is
      // one FILTERed aggregate call per bucket — a SINGLE hash-agg
      // pass evaluates them all (no extra shuffle, no UDAF).
      case r if r.endsWith("resample") =>
        require(filt.isEmpty,
          s"$name0: compose as <agg>IfResample is not supported; " +
            "put the condition in WHERE")
        val inner0 = name0.substring(0, name0.length - "Resample".length)
        require(params.size == 3, s"$name0 takes (start, end, step)")
        def numParam(i: Int): Double = {
          require(params(i).matches("""-?\d+(\.\d+)?"""),
            s"$name0: parameter ${i + 1} must be a numeric literal, " +
              s"got ${params(i)}")
          params(i).toDouble
        }
        val start = numParam(0); val end = numParam(1); val step = numParam(2)
        require(step > 0, s"$name0: step must be positive")
        require(end > start, s"$name0: end must exceed start")
        val nb = math.ceil((end - start) / step).toInt
        require(nb <= 1024,
          s"$name0: ${nb} subintervals — cap is 1024 (each bucket is an " +
            "aggregate call in the plan)")
        nArgs(2)
        val x = args(0); val key = args(1)
        def fmt(d: Double): String =
          if (d == d.floor && d.abs < 1e15) d.toLong.toString else d.toString
        val calls = (0 until nb).map { i =>
          val lo = start + i * step
          val hi = math.min(start + (i + 1) * step, end)
          val cond = s"($key) >= ${fmt(lo)} AND ($key) < ${fmt(hi)}"
          val call = inner0.toLowerCase(java.util.Locale.ROOT) match {
            case "uniq" | "uniqexact" => s"count(DISTINCT $x)"
            case _ => s"$inner0($x)" // count/sum/avg/min/max + any
                                     // registered CH spelling resolve
                                     // through the session registry
          }
          s"$call FILTER (WHERE $cond)"
        }
        s"array(${calls.mkString(", ")})"
      // quantileDD/quantilesDD (CH 23.x DDSketch): the FIRST parameter
      // is the relative accuracy, the rest are levels — a real sketch
      // (ops/Aggregates.DDSketchQuantiles), not the exact-percentile
      // substitution, because DDSketch is deterministic enough to
      // hash-check (agg_quantile_dd re-derives it in DuckDB)
      case "quantiledd" | "quantilesdd" =>
        nArgs(1)
        val plural = name == "quantilesdd"
        require(params.size >= (if (plural) 2 else 1),
          s"$name0(relative_accuracy${if (plural) ", level…" else "[, level]"})(x)")
        params.foreach(p => require(
          p.trim.matches("""[-+]?\d+(\.\d+)?([eE][-+]?\d+)?"""),
          s"$name0: numeric literal parameters only, got '$p'"))
        val ra = params.head.trim.toDouble
        val lvls =
          if (params.size == 1) Seq(0.5) else params.tail.map(_.trim.toDouble)
        val fn = ("__ch_qdd_" + ra + "_" + lvls.mkString("_"))
          .replace('.', 'p').replace('-', 'm')
        registerOnce(spark, fn)(
          udaf(new Aggregates.DDSketchQuantiles(ra, lvls)))
        if (plural) s"$fn(CAST(${args.head} AS DOUBLE))$filt"
        else s"element_at($fn(CAST(${args.head} AS DOUBLE))$filt, 1)"
      // generic fallback for the long tail of quantile spellings
      // (quantileTimingWeighted, quantilesTDigest, quantileExactArray
      // variants…): every CH quantile maps to the exact interpolated
      // percentile (the conservative substitution documented above);
      // a second argument is the frequency weight
      case other if other.startsWith("quantiles") =>
        require(params.nonEmpty, s"$name0 needs at least one level")
        require(args.size == 1 || args.size == 2,
          s"$name0(levels…)(x[, w]) takes one or two arguments")
        if (args.size == 1)
          s"graft_quantile_exact(CAST(${args.head} AS DOUBLE), " +
            s"CAST(array(${params.mkString(", ")}) AS ARRAY<DOUBLE>))$filt"
        else
          s"percentile(${args(0)}, array(${params.mkString(", ")}), " +
            s"CAST(${args(1)} AS BIGINT))$filt"
      case other if other.startsWith("quantiles") =>
        // plural long-tail spellings (quantilesTiming, quantilesTDigest,
        // quantilesBFloat16, quantilesDeterministic…) take a LEVEL LIST
        require(params.nonEmpty, s"$name0 needs at least one level")
        require(args.size == 1 || args.size == 2,
          s"$name0(levels…)(x[, w]) takes one or two arguments")
        val lvls = params.mkString(", ")
        if (args.size == 1)
          s"graft_quantile_exact(CAST(${args.head} AS DOUBLE), " +
            s"CAST(array($lvls) AS ARRAY<DOUBLE>))$filt"
        else
          s"percentile(${args(0)}, array($lvls), " +
            s"CAST(${args(1)} AS BIGINT))$filt"
      case other if other.startsWith("quantile") =>
        require(params.size == 1, s"$name0 takes one level parameter")
        require(args.size == 1 || args.size == 2,
          s"$name0(level)(x[, w]) takes one or two arguments")
        if (args.size == 1)
          s"graft_quantile_exact(CAST(${args.head} AS DOUBLE), " +
            s"CAST(${params.head} AS DOUBLE))$filt"
        else s"percentile(${args(0)}, ${params.head}, " +
          s"CAST(${args(1)} AS BIGINT))$filt"
      case "groupconcat" | "group_concat" =>
        // groupConcat[(sep)](x) [CH 24.x]: CH concatenates in row
        // order (nondeterministic at any parallelism) — deterministic
        // reinterpretation: value-sorted, the groupArray convention
        require(params.size <= 1, s"$name0 takes at most a separator")
        nArgs(1)
        val sep = params.headOption.getOrElse("''")
        s"array_join(transform(array_sort(collect_list(" +
          s"CAST(${args.head} AS STRING))$filt), __g -> __g), $sep)"
      case other => throw new IllegalStateException(s"unhandled parametric $other")
    }
  }

  // ---- generic aggregate combinators (on-demand registration) ------
  // CH glues combinator suffixes onto ANY aggregate name. Rather than
  // pre-register the cross product, scan the query for function-call
  // names nothing resolves yet and ask ChDialect to peel them
  // (`groupArrayIf`, `countDistinctIf`, `sumArrayIf`, `uniqOrNull`,
  // …). Registration is a driver-side side effect; the text passes
  // through unchanged and unpeelable names still fail as unresolved.
  private val fnCallRe = """(?i)\b([A-Za-z_]\w{2,})\s*\(""".r

  private def registerCombinators(spark: SparkSession, q: String): String = {
    val inStr = inStringMask(q)
    val fr = spark.sessionState.functionRegistry
    fnCallRe.findAllMatchIn(q).filterNot(m => inStr(m.start))
      .map(_.group(1)).toSeq.distinct
      .filterNot(n => fr.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      .foreach { n =>
        graft.functions.ChDialect.combinatorBuilder(spark, n).foreach(b =>
          fr.createOrReplaceTempFunction(n, b, "built-in"))
      }
    q
  }

  // ANSI OFFSET…FETCH spelling (accepted by CH) → LIMIT/OFFSET text;
  // ORDER BY … COLLATE 'loc' → stripped (binary collation stand-in:
  // identical order on ASCII keys, locale tailoring is not applied)
  private val offsetFetchRe =
    ("""(?i)\bOFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:FIRST|NEXT)\s+""" +
      """(\d+)\s+ROWS?\s+(ONLY|WITH\s+TIES)""").r
  private val fetchOnlyRe =
    """(?i)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+(ONLY|WITH\s+TIES)""".r
  private val offsetRowsRe = """(?i)\bOFFSET\s+(\d+)\s+ROWS?(?!\s*\w)""".r
  private val collateRe = """(?i)\s+COLLATE\s+'[^']*'""".r

  private def rewriteFetch(q0: String): String = {
    def masked(q: String, re: Regex, f: Regex.Match => String): String =
      if (re.findFirstIn(q).isEmpty) q
      else {
        val mask = inStringMask(q)
        re.replaceAllIn(q, m =>
          if (mask(m.start)) Regex.quoteReplacement(m.matched)
          else Regex.quoteReplacement(f(m)))
      }
    var q = masked(q0, offsetFetchRe, { m =>
      val ties = m.group(3).toUpperCase.startsWith("WITH")
      require(!ties, "FETCH … WITH TIES combined with OFFSET is not supported")
      s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}"
    })
    q = masked(q, fetchOnlyRe, { m =>
      if (m.group(2).toUpperCase.startsWith("WITH"))
        s"LIMIT ${m.group(1)} WITH TIES"
      else s"LIMIT ${m.group(1)}"
    })
    q = masked(q, offsetRowsRe, m => s"OFFSET ${m.group(1)}")
    masked(q, collateRe, _ => "")
  }

  /** replaceAllIn that leaves matches INSIDE string literals or `--`
    * comments untouched (round-7 robustness fix: `WITH TOTALS` spelled
    * inside a literal was being rewritten).
    */
  private def maskedReplaceAll(q: String, re: Regex)(
      f: Regex.Match => String): String = {
    val mask = inStringMask(q)
    re.replaceAllIn(q,
      m => if (mask(m.start)) Regex.quoteReplacement(m.matched) else f(m))
  }

  private def preRewrite(q0: String): String = {
    var q = rewriteTopN(rewriteScalarWith(rewriteFetch(q0)))
    lastTopLevel(q, formatRe).foreach(m => q = q.substring(0, m.start))
    require(firstTopLevel(q, anyJoinRe).isEmpty,
      "ANY JOIN changes join semantics — use graft.ops.Joins.anyJoin")
    q = maskedReplaceAll(q, globalRe)(_ => "")
    q = maskedReplaceAll(q, allJoinRe)(_ => "")
    q = rewriteArrayJoin(q)
    q = rewritePrewhere(q)
    val a = maskedReplaceAll(q, dateDiffRe)(m => s"chDateDiff(${m.group(1)}")
    val b = maskedReplaceAll(a, totalsRe)(
      m => Regex.quoteReplacement(s"GROUP BY GROUPING SETS ((${m.group(1)}), ())"))
    val c = maskedReplaceAll(b, commaLimitRe)(
      m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    rewriteSample(c)
  }

  // ---- DataFrame-level clause extraction ---------------------------

  private case class FillSpec(from: Option[Long], to: Option[Long],
      step: Option[Long], stepInterval: Option[String] = None,
      staleness: Option[Long] = None)
  private case class OrderItem(name: String, asc: Boolean, fill: Option[FillSpec])

  private val finalLimitRe =
    """(?i)\bLIMIT\s+(\d+)(?:\s+OFFSET\s+(\d+))?\s*$""".r
  private val limitTiesRe =
    """(?i)\bLIMIT\s+(\d+)\s+WITH\s+TIES\s*$""".r
  private val distinctOnRe =
    """(?is)^\s*SELECT\s+DISTINCT\s+ON\s*\(""".r
  private val intoOutfileRe =
    """(?is)\bINTO\s+OUTFILE\s+'([^']+)'\s*(?:FORMAT\s+(\w+))?\s*$""".r
  // both CH offset spellings: `LIMIT offset, n BY` and `LIMIT n OFFSET offset BY`
  private val limitByRe =
    """(?i)\bLIMIT\s+(\d+)(?:\s*,\s*(\d+)|\s+OFFSET\s+(\d+))?\s+BY\b""".r
  private val orderByRe = """(?i)\bORDER\s+BY\b""".r
  private val withFillRe = """(?i)\bWITH\s+FILL\b""".r

  private val orderItemRe =
    ("""(?is)^([A-Za-z_][\w.]*|\d+)(?:\s+(ASC|DESC))?""" +
      """(?:\s+WITH\s+FILL(?:\s+FROM\s+(-?\d+))?(?:\s+TO\s+(-?\d+))?""" +
      """(?:\s+STEP\s+(?:(-?\d+)|INTERVAL\s+(\d+)\s+([A-Za-z]+)))?""" +
      """(?:\s+STALENESS\s+(\d+))?)?$""").r

  private def parseOrderItem(raw: String): OrderItem = raw.trim match {
    case orderItemRe(name, dir, from, to, step, stepN, stepUnit, stale) =>
      val fillGiven = withFillRe.findFirstIn(raw).isDefined
      OrderItem(name, dir == null || dir.equalsIgnoreCase("ASC"),
        if (fillGiven) Some(FillSpec(Option(from).map(_.toLong),
          Option(to).map(_.toLong), Option(step).map(_.toLong),
          Option(stepN).map(n => s"INTERVAL $n ${stepUnit.toUpperCase(java.util.Locale.ROOT)}"),
          Option(stale).map(_.toLong)))
        else None)
    case other =>
      throw new IllegalArgumentException(
        s"ORDER BY item '$other' not routable: CH clause routing needs plain " +
          "column references (alias the expression in SELECT, sort by the alias)")
  }

  /** CH fills unmentioned columns with their type's default value. */
  private def chDefault(dt: DataType): Column = dt match {
    case _: NumericType => lit(0).cast(dt)
    case StringType => lit("")
    case BooleanType => lit(false)
    case other => lit(null).cast(other)
  }

  // ---- ASOF / ANY JOIN routing --------------------------------------

  /** CH spells both modifier orders: `ASOF LEFT JOIN` / `LEFT ASOF
    * JOIN`, `ANY LEFT JOIN` / `LEFT ANY JOIN`; bare `ASOF JOIN` /
    * `ANY JOIN` are INNER.
    */
  private val specialJoinRe =
    """(?i)\b(?:(LEFT|INNER|RIGHT|FULL)\s+)?(ASOF|ANY|PASTE)\s+(?:(LEFT|INNER|RIGHT|FULL)\s+)?JOIN\b""".r
  private val fromKwRe = """(?i)\bFROM\b""".r
  private val onKwRe = """(?i)\bON\b""".r
  private val usingKwRe = """(?i)\bUSING\b""".r
  private val andKwRe = """(?i)\bAND\b""".r
  private val anyJoinKwRe = """(?i)\bJOIN\b""".r

  /** Where the ON condition list of a routed join ends: the next
    * top-level clause keyword, set operator, or follow-on join.
    */
  private val onBoundaryRe =
    ("""(?i)\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|WINDOW|QUALIFY|ORDER\s+BY|""" +
      """LIMIT|SETTINGS|UNION|INTERSECT|EXCEPT|FORMAT|""" +
      """(?:(?:LEFT|RIGHT|FULL|INNER|CROSS|GLOBAL|ALL|ANY|ASOF|SEMI|ANTI)\s+)*JOIN)\b""").r

  private val joinSeq = new java.util.concurrent.atomic.AtomicLong()

  /** One join side: `name [[AS] alias]` or `(subquery) [AS] alias`.
    * Subqueries recurse through [[run]], so CH clauses nest inside a
    * routed join's sides.
    */
  private def parseFactor(spark: SparkSession, raw: String): (DataFrame, String) = {
    val t = raw.trim
    require(t.nonEmpty, "empty join side")
    if (t.startsWith("(")) {
      var depth = 0; var inStr = false; var end = -1; var i = 0
      while (i < t.length && end < 0) {
        val c = t.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      require(end > 0, s"unbalanced parens in join side '$t'")
      val alias = t.substring(end + 1).trim.replaceFirst("(?i)^AS\\s+", "")
      require(alias.matches("[A-Za-z_]\\w*"),
        s"subquery join side needs an alias: (SELECT …) x, got '$alias'")
      (run(spark, t.substring(1, end)), alias)
    } else {
      val parts = t.split("\\s+").toSeq.filterNot(_.equalsIgnoreCase("AS"))
      require(parts.nonEmpty && parts.size <= 2 &&
        parts.forall(_.matches("[A-Za-z_]\\w*")),
        s"join side '$t' not routable — use a table name or (subquery) alias; " +
          "ASOF/ANY JOIN must be the first join in its FROM")
      (spark.table(parts.head), parts.last)
    }
  }

  private def splitTopLevelAnd(s: String): Seq[String] = {
    val mask = topLevelMask(s)
    val cuts = andKwRe.findAllMatchIn(s).filter(m => mask(m.start)).toSeq
    val bounds = (0 +: cuts.flatMap(m => Seq(m.start, m.end))) :+ s.length
    bounds.grouped(2).map { case Seq(a, b) => s.substring(a, b).trim }.toSeq
      .filter(_.nonEmpty)
  }

  /** `alias.col` → f(col) everywhere outside string literals. */
  private def replaceQualRefs(text: String, alias: String,
      f: String => String): String = {
    val re = s"""(?i)\\b${Regex.quote(alias)}\\.([A-Za-z_]\\w*)""".r
    val inStr = {
      val flags = new Array[Boolean](text.length)
      var s = false; var i = 0
      while (i < text.length) {
        if (text.charAt(i) == '\'') s = !s
        flags(i) = s
        i += 1
      }
      flags
    }
    val sb = new StringBuilder
    var last = 0
    for (m <- re.findAllMatchIn(text) if !inStr(m.start)) {
      sb.append(text.substring(last, m.start)).append(f(m.group(1)))
      last = m.end
    }
    sb.append(text.substring(last))
    sb.toString
  }

  /** Routes verbatim `ASOF [LEFT] JOIN` / `[LEFT] ANY JOIN` text onto
    * [[graft.ops.Joins]]: the join runs as the proven operator (one
    * shuffle union+window for ASOF, right-side dedup + equi-join for
    * ANY), the result registers as a temp view, and the rest of the
    * query re-targets that view with `alias.col` references rewritten
    * (ASOF right columns surface under their `asof_` names; join-key
    * references coalesce to the left name, as with USING).
    *
    * Scope (loud failures otherwise): the special join is the first
    * join in its FROM; sides are table names or (subquery) alias; ON
    * is an AND-list of `a.x = b.y` equalities — plus, for ASOF,
    * exactly one `a.ts >= b.ts` / `b.ts <= a.ts` inequality (CH's
    * default closest-match direction; strict forms are rejected
    * because the operator pins `<=` semantics).
    */
  // ---- CH clauses inside subqueries --------------------------------
  // The clause peel below only sees the TOP level; a `(SELECT … LIMIT
  // 3 BY k)` in FROM/IN/scalar position would otherwise reach
  // spark.sql verbatim and fail to parse. Any parenthesized SELECT
  // whose text carries a CH-only clause routes through [[run]]
  // recursively into a temp view; the group is replaced by
  // `(SELECT * FROM view)`, which is valid in every subquery
  // position. Correlated subqueries can't be routed standalone — the
  // recursive run fails, the text is left untouched, and the outer
  // parse reports the real error.
  private val chSubMarkerRe =
    ("""(?i)\b(LIMIT\s+\d+(?:\s*,\s*\d+)?\s+BY\b|WITH\s+FILL\b|""" +
      """WITH\s+TOTALS\b|WITH\s+TIES\b|DISTINCT\s+ON\b|""" +
      """SAMPLE\s+[\d.]|ASOF\s+(?:LEFT\s+)?JOIN\b)""").r

  private def rewriteChSubqueries(spark: SparkSession, q0: String): String = {
    var q = q0
    var from = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val mask = inStringMask(q)
      val openSel = """\(\s*(?i:SELECT)\b""".r.findAllMatchIn(q)
        .find(m => m.start >= from && !mask(m.start))
      openSel match {
        case None => return q
        case Some(m) =>
          val close = matchParenStr(q, m.start)
          val inner = q.substring(m.start + 1, close)
          val innerMask = inStringMask(inner)
          val marked = chSubMarkerRe.findAllMatchIn(inner)
            .exists(mm => !innerMask(mm.start))
          if (!marked) { from = m.start + 1 } // descend into it next scan
          else scala.util.Try {
            val view = s"graft_sub_${sysSeq.incrementAndGet()}"
            run(spark, inner).createOrReplaceTempView(view)
            view
          } match {
            case scala.util.Success(view) =>
              q = q.substring(0, m.start) +
                s"(SELECT * FROM $view)" + q.substring(close + 1)
              from = m.start + 1
            // our own loud guidance (missing ORDER BY etc.) must
            // surface, not degrade into the outer parse error;
            // analysis failures mean correlation — leave the text for
            // the outer parse to report properly
            case scala.util.Failure(e: IllegalArgumentException) => throw e
            case scala.util.Failure(_) => from = m.start + 1
          }
      }
    }
    q
  }

  private def rewriteSpecialJoins(spark: SparkSession, q0: String): String = {
    var q = q0
    var matched = firstTopLevel(q, specialJoinRe)
    while (matched.isDefined) {
      val mm = matched.get
      val kind = mm.group(2).toUpperCase(java.util.Locale.ROOT)
      val mods = Seq(Option(mm.group(1)), Option(mm.group(3))).flatten
        .map(_.toUpperCase(java.util.Locale.ROOT))
      require(mods.size <= 1, s"conflicting $kind JOIN modifiers: $mods")
      val joinType = mods.headOption.getOrElse("INNER")
      require(joinType == "LEFT" || joinType == "INNER",
        s"$joinType $kind JOIN is not routable — swap the sides and use " +
          s"LEFT $kind JOIN (RIGHT/FULL strictness needs the library operator)")

      val mask = topLevelMask(q)
      val fromM = fromKwRe.findAllMatchIn(q)
        .filter(x => mask(x.start) && x.end <= mm.start).toSeq.lastOption
        .getOrElse(throw new IllegalArgumentException(
          s"$kind JOIN needs a FROM <table|(subquery)> left side"))
      val leftRaw = q.substring(fromM.end, mm.start)

      val after = q.substring(mm.end)
      if (kind == "PASTE") {
        // positional join: no ON clause, result rows = shorter side
        require(mods.isEmpty, "PASTE JOIN takes no LEFT/RIGHT/FULL modifier")
        require(firstTopLevel(after, onKwRe).isEmpty,
          "PASTE JOIN is positional — it takes no ON conditions")
        val rEnd = firstTopLevel(after, onBoundaryRe).map(_.start)
          .getOrElse(after.length)
        val (lDf, lAlias) = parseFactor(spark, leftRaw)
        val (rDf, rAlias) = parseFactor(spark, after.substring(0, rEnd))
        require(lAlias.toLowerCase != rAlias.toLowerCase,
          s"join sides need distinct aliases, both are '$lAlias'")
        val viewName = s"__graft_sj_${joinSeq.incrementAndGet()}"
        graft.ops.Joins.pasteJoin(lDf, rDf).createOrReplaceTempView(viewName)
        var next = q.substring(0, fromM.start) + "FROM " + viewName + " " +
          after.substring(rEnd)
        next = replaceQualRefs(next, rAlias, identity)
        next = replaceQualRefs(next, lAlias, identity)
        q = next
        matched = firstTopLevel(q, specialJoinRe)
      } else {
      val onM = firstTopLevel(after, onKwRe).getOrElse(
        throw new IllegalArgumentException(
          if (firstTopLevel(after, usingKwRe).isDefined)
            s"$kind JOIN … USING: spell the keys as ON a.k = b.k (qualified)"
          else s"$kind JOIN needs ON conditions"))
      val rightRaw = after.substring(0, onM.start)
      val afterOn = after.substring(onM.end)
      val condEnd = firstTopLevel(afterOn, onBoundaryRe).map(_.start)
        .getOrElse(afterOn.length)
      val condRaw = afterOn.substring(0, condEnd)

      val (lDf, lAlias) = parseFactor(spark, leftRaw)
      val (rDf0, rAlias) = parseFactor(spark, rightRaw)
      require(lAlias.toLowerCase != rAlias.toLowerCase,
        s"join sides need distinct aliases, both are '$lAlias'")

      val condRe =
        """^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*(>=|<=|=|<|>)\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)$""".r
      // (leftCol, op, rightCol) with the left table's column first
      val conds = splitTopLevelAnd(condRaw).map {
        case condRe(q1, c1, op, q2, c2) =>
          val flip = Map(">=" -> "<=", "<=" -> ">=", ">" -> "<", "<" -> ">",
            "=" -> "=")
          if (q1.equalsIgnoreCase(lAlias) && q2.equalsIgnoreCase(rAlias))
            (c1, op, c2)
          else if (q1.equalsIgnoreCase(rAlias) && q2.equalsIgnoreCase(lAlias))
            (c2, flip(op), c1)
          else throw new IllegalArgumentException(
            s"ON condition '$q1.$c1 $op $q2.$c2' must reference both sides " +
              s"('$lAlias' and '$rAlias')")
        case other => throw new IllegalArgumentException(
          s"ON condition '$other' not routable — $kind JOIN routing takes " +
            "qualified `a.x <op> b.y` conjuncts only")
      }

      val eqs = conds.filter(_._2 == "=")
      // Right key columns adopt the left name (USING-style coalesce).
      val renames = eqs.collect { case (lc, _, rc) if lc != rc => rc -> lc }.toMap
      val rDf = renames.foldLeft(rDf0) { case (df, (rc, lc)) =>
        df.withColumnRenamed(rc, lc)
      }
      val keys = eqs.map(_._1)
      require(keys.nonEmpty, s"$kind JOIN needs at least one equality key")

      val viewName = s"__graft_sj_${joinSeq.incrementAndGet()}"
      // rewrite of a right-side reference `rAlias.c` after the join
      var rightRef: String => String = identity

      val joined = kind match {
        case "ASOF" =>
          val ineqs = conds.filterNot(_._2 == "=")
          require(ineqs.size == 1,
            s"ASOF JOIN needs exactly one inequality, got ${ineqs.size}")
          // all four CH inequality forms route onto the operator:
          // >= latest at-or-before, > latest strictly-before,
          // <= earliest at-or-after, < earliest strictly-after
          val (lts, op, rts) = ineqs.head
          val rightCols = rDf.columns.toSeq.filterNot(keys.contains)
          val out = graft.ops.Joins.asofJoin(lDf, rDf, keys, lts, rts,
            rightCols, op = op)
          rightRef = c => {
            val nc = renames.getOrElse(c, c)
            if (keys.contains(nc)) nc else s"asof_$nc"
          }
          if (joinType == "INNER") out.filter(col(s"asof_$rts").isNotNull)
          else out
        case "ANY" =>
          require(conds.forall(_._2 == "="),
            "ANY JOIN takes equality conditions only")
          val rest = rDf.columns.toSeq.filterNot(keys.contains)
          val clash = rest.toSet.intersect(lDf.columns.toSet)
          require(clash.isEmpty,
            s"ANY JOIN column clash on ${clash.mkString(", ")} — alias them " +
              "apart in a (subquery) side")
          // deterministic "any": first row per key by the remaining
          // right columns (CH's pick is arbitrary; ours is pinned)
          val firstBy = if (rest.nonEmpty) rest.map(col(_).asc)
            else Seq(col(keys.head).asc)
          rightRef = c => renames.getOrElse(c, c)
          graft.ops.Joins.anyJoin(lDf, rDf, keys, firstBy,
            joinType.toLowerCase(java.util.Locale.ROOT))
      }
      joined.createOrReplaceTempView(viewName)

      var next = q.substring(0, fromM.start) + "FROM " + viewName + " " +
        afterOn.substring(condEnd)
      next = replaceQualRefs(next, rAlias, rightRef)
      next = replaceQualRefs(next, lAlias, identity)
      q = next
      matched = firstTopLevel(q, specialJoinRe)
      }
    }
    q
  }

  // ---- entry -------------------------------------------------------

  // ---- CH mutations: ALTER TABLE t DELETE/UPDATE --------------------

  private val alterRe =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+(DELETE|UPDATE)\b(.*)$""".r
  private val mutationSeq = new java.util.concurrent.atomic.AtomicLong()

  // ---- MergeTree parts ----------------------------------------------
  // A table written through the front door is a list of immutable
  // parquet parts under partsRoot, and its temp view reads all of them
  // (Mutations.readParts). INSERT adds a part; mutations, column DDL
  // and OPTIMIZE rewrite the parts into one (they are the merge).

  /** Parts a table may hold; an INSERT that would exceed it merges. */
  private[graft] val MaxParts = 4

  private val partsRoot =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_mutations").toString

  // tells apart the part directories of JVMs sharing partsRoot
  private val jvmTag = java.util.UUID.randomUUID().toString.take(8)

  /** A fresh part directory of `table`; `tag` names the statement. */
  private def newPartDir(table: String, tag: String): String =
    s"$partsRoot/${table}_${tag}_${jvmTag}_${mutationSeq.incrementAndGet()}"

  /** (part directories, partition columns) of a front-door table. */
  private def partsOf(df: DataFrame): Option[(Seq[String], Seq[String])] =
    graft.ops.Mutations.partsOf(df, partsRoot)

  /** Partition columns of `df` that `out` still has. */
  private def partCols(df: DataFrame, out: DataFrame): Seq[String] =
    partsOf(df).map(_._2).getOrElse(Nil).filter(out.columns.contains)

  /** Writes `df` as the single new part of `table` (a merge). */
  private def writePart(df: DataFrame, table: String, tag: String,
      partitionBy: Seq[String] = Nil): DataFrame =
    graft.ops.Mutations.writePart(df, newPartDir(table, tag), partitionBy)

  /** Points `table`'s view at `out`, dropping its skip index. */
  private def repoint(table: String, out: DataFrame): DataFrame = {
    invalidateIndex(table)
    out.createOrReplaceTempView(table)
    out
  }

  /** Appends `rows` to `table` as one new part and repoints the view;
    * returns the block as written. A table whose view is not a part
    * list yet (a fixture view, a persisted frame) is first written
    * once as part 0, and parts without files (no rows) drop out of the
    * list. Rows cast to the table's column types; when the table's
    * types would have to widen instead, or the table would hold more
    * than [[MaxParts]] parts, the parts and the block merge into one.
    */
  private def appendPart(spark: SparkSession, table: String,
      rows: DataFrame): DataFrame = {
    val view = spark.table(table)
    val cur = if (partsOf(view).isDefined) view else writePart(view, table, "p0")
    val (parts, cols) = partsOf(cur).get
    val ordered = rows.select(cur.columns.map(col).toIndexedSeq: _*)
    val fits = cur.unionByName(ordered).schema == cur.schema
    val blockDir = newPartDir(table, "blk")
    val block = graft.ops.Mutations.writePart(
      if (!fits) ordered
      else ordered.select(cur.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*),
      blockDir, cols)
    val files = (cur.inputFiles ++ block.inputFiles).map(f => new java.net.URI(f).getPath)
    val live = (parts :+ blockDir).filter(d => files.exists(_.startsWith(d + "/")))
    repoint(table,
      if (!fits || live.size > MaxParts) writePart(cur.unionByName(block), table, "merge", cols)
      else if (live.isEmpty) cur
      else graft.ops.Mutations.readParts(spark, live, cur.schema, cols.nonEmpty))
    block
  }

  /** `ALTER TABLE t DELETE WHERE cond` / `ALTER TABLE t UPDATE c = e,
    * … WHERE cond` → [[graft.ops.Mutations]] rewrites all the table's
    * parts into one (upstream's part-rewrite model), the temp view
    * repoints to it and the mutated frame is returned.
    */
  private def runAlter(spark: SparkSession, table: String, verb: String,
      bodyRaw: String): DataFrame = {
    val body = bodyRaw.trim
    val df = spark.table(table)
    val dest = newPartDir(table, "mut")
    val cols = partCols(df, df)
    val out = verb.toUpperCase(java.util.Locale.ROOT) match {
      case "DELETE" =>
        require(body.toUpperCase(java.util.Locale.ROOT).startsWith("WHERE"),
          s"ALTER TABLE … DELETE needs WHERE, got '$body'")
        graft.ops.Mutations.deleteWhere(df, expr(body.substring(5)), dest, cols)
      case "UPDATE" =>
        val w = firstTopLevel(body, whereRe).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE … UPDATE needs WHERE, got '$body'"))
        val assignRe = """(?is)^([A-Za-z_]\w*)\s*=\s*(.+)$""".r
        val set = splitTopLevel(body.substring(0, w.start)).map {
          case assignRe(c, e) => c -> expr(e.trim)
          case other => throw new IllegalArgumentException(
            s"bad UPDATE assignment '$other' (want col = expr)")
        }.toMap
        graft.ops.Mutations.updateWhere(df, expr(body.substring(w.end)), set, dest, cols)
    }
    repoint(table, out)
  }

  // ---- CH DDL: ALTER TABLE t ADD/DROP/MODIFY/RENAME COLUMN ---------

  private val alterColRe =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+(ADD|DROP|MODIFY|RENAME)\s+COLUMN\s+(.*?)\s*$""".r

  /** ClickHouse type spellings → Spark SQL types (unsigned widths map
    * to the next-size signed type, the toUInt* convention).
    */
  private[graft] def chType(t: String): DataType = {
    val norm = t.trim
    val decRe = """(?i)^Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$""".r
    val fixRe = """(?i)^FixedString\s*\(\s*\d+\s*\)$""".r
    val wrapRe = """(?i)^(?:Nullable|LowCardinality)\s*\((.*)\)$""".r
    val arrRe = """(?i)^Array\s*\((.*)\)$""".r
    val mapRe = """(?i)^Map\s*\((.*)\)$""".r
    val tupRe = """(?i)^Tuple\s*\((.*)\)$""".r
    norm match {
      case tupRe(inner) =>
        // Tuple(a Int64, s String) → named struct; Tuple(Int64, String)
        // → CH's positional element names '1', '2', …
        val namedRe = """^([A-Za-z_]\w*)\s+(\S.*)$""".r
        org.apache.spark.sql.types.StructType(
          splitTopLevel(inner).zipWithIndex.map { case (p, i) =>
            p.trim match {
              case namedRe(n, rest) =>
                org.apache.spark.sql.types.StructField(n, chType(rest))
              case t =>
                org.apache.spark.sql.types.StructField(
                  (i + 1).toString, chType(t))
            }
          })
      case wrapRe(inner) => chType(inner) // Spark cols are all nullable
      case arrRe(inner) =>
        org.apache.spark.sql.types.ArrayType(chType(inner))
      case mapRe(inner) =>
        val kv = splitTopLevel(inner)
        require(kv.size == 2, s"Map type needs (K, V), got '$norm'")
        org.apache.spark.sql.types.MapType(chType(kv(0)), chType(kv(1)))
      case decRe(p, s) => DecimalType(p.toInt, s.toInt)
      case fixRe() => StringType
      case dt64 if dt64.matches("(?i)^DateTime64\\s*\\(.*\\)$") => TimestampType
      case _ => norm.toLowerCase(java.util.Locale.ROOT) match {
        case "string" => StringType
        case "int8" => ByteType
        case "int16" | "uint8" => ShortType
        case "int32" | "uint16" => IntegerType
        case "int64" | "uint32" | "uint64" => LongType
        case "float32" => FloatType
        case "float64" => DoubleType
        case "date" | "date32" => DateType
        case "datetime" | "datetime64" => TimestampType
        case "bool" | "boolean" => BooleanType
        case other =>
          // accept Spark-spelled types verbatim (fails loudly if bogus)
          org.apache.spark.sql.types.DataType.fromDDL(other)
      }
    }
  }

  /** Column DDL rewrites the parts into one (the same part-rewrite
    * model as DELETE/UPDATE; at warehouse scale ADD/RENAME are
    * metadata-only — the fixture-scale rewrite keeps the semantics
    * testable). ADD without DEFAULT fills with the TYPE DEFAULT
    * (0 / '' / false), CH's non-Nullable contract.
    */
  private def runAlterColumn(spark: SparkSession, table: String,
      verb: String, bodyRaw: String): DataFrame = {
    val body = bodyRaw.trim
    val df = spark.table(table)
    val out = verb.toUpperCase(java.util.Locale.ROOT) match {
      case "ADD" =>
        val addRe =
          """(?is)^(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s+([A-Za-z0-9_]+(?:\s*\([^)]*\))?)(?:\s+DEFAULT\s+(.+))?$""".r
        body match {
          case addRe(ifne, name, tpe, dflt) =>
            if (df.columns.contains(name)) {
              require(ifne != null, s"column '$name' already exists in $table" +
                " (ADD COLUMN IF NOT EXISTS to ignore)")
              df
            } else {
              val dt = chType(tpe)
              val v = Option(dflt).map(d => expr(d).cast(dt))
                .getOrElse(chDefault(dt))
              df.withColumn(name, v)
            }
          case _ => throw new IllegalArgumentException(
            s"ADD COLUMN wants 'name Type [DEFAULT expr]', got '$body'")
        }
      case "DROP" =>
        val dropRe = """(?is)^(IF\s+EXISTS\s+)?([A-Za-z_]\w*)$""".r
        body match {
          case dropRe(ife, name) =>
            require(df.columns.contains(name) || ife != null,
              s"no column '$name' in $table (DROP COLUMN IF EXISTS to ignore)")
            df.drop(name)
          case _ => throw new IllegalArgumentException(
            s"DROP COLUMN wants a column name, got '$body'")
        }
      case "MODIFY" =>
        val modRe = """(?is)^([A-Za-z_]\w*)\s+([A-Za-z0-9_]+(?:\s*\([^)]*\))?)$""".r
        body match {
          case modRe(name, tpe) =>
            require(df.columns.contains(name), s"no column '$name' in $table")
            df.withColumn(name, col(name).cast(chType(tpe)))
          case _ => throw new IllegalArgumentException(
            s"MODIFY COLUMN wants 'name Type', got '$body'")
        }
      case "RENAME" =>
        val renRe = """(?is)^([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)$""".r
        body match {
          case renRe(a, b) =>
            require(df.columns.contains(a), s"no column '$a' in $table")
            df.withColumnRenamed(a, b)
          case _ => throw new IllegalArgumentException(
            s"RENAME COLUMN wants 'a TO b', got '$body'")
        }
    }
    repoint(table, writePart(out, table, "ddl", partCols(df, out)))
  }

  // ---- CH CTAS: CREATE TABLE t ENGINE = … AS SELECT ----------------

  private val createTableRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s+""" +
      """ENGINE\s*=\s*([A-Za-z]+)\s*(?:\(([^)]*)\))?(.*?)\bAS\s+((?:SELECT|WITH)\b.*)$""").r

  // CH's most common DDL: an explicit-schema EMPTY table,
  // `CREATE TABLE t (k Int64, v String DEFAULT '…') ENGINE = … ORDER
  // BY …`. It rewrites onto the CTAS path with a zero-row typed
  // SELECT, so every engine clause (ORDER BY/PARTITION BY/SAMPLE BY/
  // TTL) reuses the proven handling; DEFAULT expressions register so
  // later INSERTs may omit those columns.
  private val createEmptyTableRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s*""" +
      """\((.*)\)\s*ENGINE\s*=\s*(.*)$""").r
  // MATERIALIZED is treated as DEFAULT (fill when omitted on insert);
  // CH's always-recompute nuance does not arise on immutable snapshots
  private val colDefRe =
    """(?is)^([A-Za-z_]\w*)\s+(.+?)(?:\s+(?:DEFAULT|MATERIALIZED)\s+(.+))?$""".r

  /** table → (column → DEFAULT expression text). */
  private val ctasDefaults =
    scala.collection.concurrent.TrieMap[String, Map[String, String]]()

  private def runCreateEmptyTable(spark: SparkSession,
      m: Regex.Match): DataFrame = {
    val (name, colsRaw, engineTail) = (m.group(1), m.group(2), m.group(3))
    val defs = splitTopLevel(colsRaw).map { d =>
      colDefRe.findFirstMatchIn(d.trim).getOrElse(throw
        new IllegalArgumentException(s"cannot parse column definition '$d'"))
    }
    val selectCols = defs.map { cm =>
      val spark_t = chType(cm.group(2)).catalogString
      s"CAST(NULL AS $spark_t) AS ${cm.group(1)}"
    }.mkString(", ")
    val defaults = defs.flatMap(cm =>
      Option(cm.group(3)).map(e => cm.group(1) -> e.trim)).toMap
    if (defaults.nonEmpty) ctasDefaults(name) = defaults
    run(spark, s"CREATE TABLE $name ENGINE = $engineTail AS " +
      s"SELECT $selectCols FROM system.one WHERE false")
  }
  private val orderByClauseRe =
    """(?is)\bORDER\s+BY\s+(\([^)]*\)|[A-Za-z_][\w.]*(?:\s*,\s*[A-Za-z_][\w.]*)*)""".r
  private val sampleByClauseRe = """(?is)\bSAMPLE\s+BY\s+([A-Za-z_]\w*)""".r
  private val partitionByClauseRe = """(?is)\bPARTITION\s+BY\s+(\S+)""".r
  private val ttlClauseRe =
    """(?is)\bTTL\s+([A-Za-z_]\w*)\s*\+\s*INTERVAL\s+(\d+)\s+([A-Za-z]+)""".r

  /** `CREATE TABLE t ENGINE = <MergeTree family>[(args)] [PARTITION
    * BY col] [ORDER BY (k…)] [SAMPLE BY c] AS SELECT …`: the SELECT
    * writes one parquet part SORTED WITHIN PARTITIONS by the ORDER BY
    * keys (the MergeTree part-ordering analog — row-group min/max
    * stats become the sparse index), a plain-column PARTITION BY
    * writes hive-partitioned directories (real partition pruning;
    * expressions: alias them in the SELECT first), SAMPLE BY
    * registers the table's sampling key for `FROM t SAMPLE f`
    * routing, and the collapsing engines register their FINAL
    * collapse for `FROM t FINAL`:
    *
    *   - ReplacingMergeTree(ver): latest row per key by ver
    *     (the version argument is REQUIRED here — upstream's
    *     "last inserted" default depends on physical order, which a
    *     distributed snapshot cannot honor deterministically);
    *   - SummingMergeTree([cols]): sums the listed (default: all
    *     numeric non-key) columns per key, drops the rest (upstream
    *     keeps an arbitrary value — dropping is the deterministic
    *     subset);
    *   - CollapsingMergeTree(sign) / VersionedCollapsingMergeTree
    *     (sign, ver): net-positive (key[, version]) survivors.
    */
  private def runCreateTable(spark: SparkSession, m: Regex.Match): DataFrame = {
    val (name, engine, engineArgsRaw, clauses0, select) =
      (m.group(1), m.group(2), Option(m.group(3)).getOrElse(""),
        m.group(4), m.group(5))
    // `ORDER BY tuple()` is CH's canonical "no sort key"
    val clauses = clauses0.replaceAll(
      """(?is)\bORDER\s+BY\s+tuple\s*\(\s*\)""", "")
    val engineArgs = splitTopLevel(engineArgsRaw)
    val orderKeys: Seq[String] = orderByClauseRe.findFirstMatchIn(clauses)
      .map(g => splitTopLevel(g.group(1).stripPrefix("(").stripSuffix(")")))
      .getOrElse(Nil)
    val sampleKey = sampleByClauseRe.findFirstMatchIn(clauses).map(_.group(1))
    val partCol = partitionByClauseRe.findFirstMatchIn(clauses).map(_.group(1))
    partCol.foreach(p => require(p.matches("[A-Za-z_]\\w*"),
      s"PARTITION BY here takes a plain column (alias the expression " +
        s"in the SELECT first), got '$p'"))

    var df = run(spark, select)
    orderKeys.foreach(k => require(df.columns.contains(k),
      s"ORDER BY key '$k' is not a column of the SELECT"))
    // r20, guide §6 output sizing: REBALANCE before the part write
    // so AQE sizes the output files from the DATA (advisory target)
    // instead of inheriting the source's task count — a fixture-scale
    // CTAS wrote 32 near-empty part files that every later statement
    // on the table re-listed and re-opened; at real scale the same
    // hint is the Iceberg `write.distribution-mode=hash` shape (one
    // shuffle buys right-sized files, skewed partition values are
    // split by AQE's rebalance skew handling). Row set unchanged.
    df = partCol match {
      case Some(p) => df.hint("rebalance", col(p))
      case None => df.hint("rebalance")
    }
    if (orderKeys.nonEmpty)
      df = df.sortWithinPartitions(orderKeys.map(col): _*)

    // validate the engine (and TTL column) BEFORE any state mutates:
    // a failed CREATE must not leave a half-registered table behind
    val engineCollapse = engineCollapseFor(name, engine, engineArgs, orderKeys)
    val ttlCollapse: Option[DataFrame => DataFrame] =
      ttlClauseRe.findFirstMatchIn(clauses).map { t =>
        val (tsCol, keep) = (t.group(1), s"${t.group(2)} ${t.group(3)}")
        require(df.columns.contains(tsCol),
          s"TTL column '$tsCol' is not a column of the SELECT")
        d => Relational.applyRowTtl(d, tsCol, keep)
      }

    val snap = repoint(name, writePart(df, name, "ctas", partCol.toSeq))
    ctasTables.add(name)
    ctasDdl(name) = m.matched.trim

    sampleKey.foreach(k => registerSampleKey(name, k))
    (ttlCollapse, engineCollapse) match {
      case (Some(t), Some(e)) => registerFinal(name, d => e(t(d)))
      case (Some(t), None) => registerFinal(name, t)
      case (None, Some(e)) => registerFinal(name, e)
      case (None, None) => ()
    }
    snap
  }

  private def engineCollapseFor(name: String, engine: String,
      engineArgs: Seq[String],
      orderKeys: Seq[String]): Option[DataFrame => DataFrame] = {
    def needKeys(): Seq[String] = {
      require(orderKeys.nonEmpty, s"$engine needs ORDER BY keys")
      orderKeys
    }
    engine.toLowerCase(java.util.Locale.ROOT) match {
        // non-merging engines: a plain snapshot, no FINAL collapse
        case "memory" | "log" | "tinylog" | "stripelog" => None
        case "mergetree" => None
        case "replacingmergetree" =>
          val keys = needKeys()
          require(engineArgs.size == 1,
            "ReplacingMergeTree needs an explicit version argument here — " +
              "upstream's last-inserted default depends on physical row order")
          val ver = engineArgs.head
          Some(d => Relational.replacingLatest(d, keys, Seq(col(ver))))
        case "summingmergetree" =>
          val keys = needKeys()
          Some { d =>
            val sumCols =
              if (engineArgs.nonEmpty) engineArgs
              else d.schema.fields.filter(f => !keys.contains(f.name) &&
                f.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
            require(sumCols.nonEmpty, s"SummingMergeTree($name): nothing to sum")
            d.groupBy(keys.map(col): _*)
              .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
              .toDF(keys ++ sumCols: _*)
          }
        case "collapsingmergetree" =>
          val keys = needKeys()
          require(engineArgs.size == 1, "CollapsingMergeTree needs (sign)")
          val sign = engineArgs.head
          Some(d => Relational.versionedCollapseFinal(
            d.withColumn("__ver", lit(1)), keys, "__ver", sign).drop("__ver"))
        case "versionedcollapsingmergetree" =>
          val keys = needKeys()
          require(engineArgs.size == 2,
            "VersionedCollapsingMergeTree needs (sign, version)")
          Some(d =>
            Relational.versionedCollapseFinal(d, keys, engineArgs(1), engineArgs(0)))
        case other => throw new IllegalArgumentException(
          s"ENGINE $other unsupported (MergeTree / Replacing / Summing / " +
            "Collapsing / VersionedCollapsing / Memory / Log)")
      }
  }

  // ---- data-skipping indexes: ALTER TABLE t ADD INDEX ---------------

  private val addIndexRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ADD\s+INDEX\s+([A-Za-z_]\w*)\s+""" +
      """([A-Za-z_]\w*)\s+TYPE\s+(minmax|set|bloom_filter)""" +
      """(?:\s*\(\s*\d+\s*\))?(?:\s+GRANULARITY\s+(\d+))?\s*$""").r
  private val dropIndexRe =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+DROP\s+INDEX\s+([A-Za-z_]\w*)\s*$""".r

  /** table → (manifest dir, indexed column, type). */
  private val skipIndexes =
    scala.collection.concurrent.TrieMap[String, (String, String, String)]()

  /** how many queries routed through a skip index (observable for tests). */
  private[graft] val indexRoutedCount = new java.util.concurrent.atomic.AtomicLong()

  /** Any statement that REPOINTS a table's view (DELETE/UPDATE,
    * column DDL, INSERT, TRUNCATE, OPTIMIZE, CTAS over the same name)
    * must drop its skip index: the manifest describes the OLD files,
    * and routing through it would resurrect pre-mutation rows.
    * Re-run ADD INDEX after mutating to reindex.
    */
  private def invalidateIndex(table: String): Unit =
    skipIndexes.remove(table.toLowerCase(java.util.Locale.ROOT))

  /** `ALTER TABLE t ADD INDEX idx col TYPE minmax|set|bloom_filter
    * [GRANULARITY g]` → [[graft.ops.SkipIndex]]: the table rewrites
    * range-partitioned on the indexed column (the MergeTree
    * granule-reorganization analog; GRANULARITY g sets the file
    * count, default 8) with a per-file manifest (min/max + capped
    * value set, or a bloom bitmap). The view repoints to the
    * reorganized data — identical rows — and top-level
    * `WHERE col = literal` queries on the table transparently prune
    * files through the manifest (see the read-path rewrite in
    * runStatement).
    */
  private def runAddIndex(spark: SparkSession, m: Regex.Match): DataFrame = {
    val (table, col0, typ) = (m.group(1), m.group(3), m.group(4))
    val parts = Option(m.group(5)).map(_.toInt).getOrElse(8)
    val df = spark.table(table)
    require(df.columns.contains(col0), s"no column '$col0' in $table")
    val dest = newPartDir(table, "idx")
    if (typ == "bloom_filter") graft.ops.SkipIndex.buildBloom(df, dest, col0, parts)
    else graft.ops.SkipIndex.build(df, dest, col0, parts)
    graft.ops.Mutations.readParts(spark, Seq(s"$dest/data"), df.schema, partitioned = false)
      .createOrReplaceTempView(table)
    skipIndexes.put(table.toLowerCase(java.util.Locale.ROOT), (dest, col0, typ))
    import spark.implicits._
    Seq(s"$table.${m.group(2)}").toDF("added_index")
  }

  /** Transparent index read path, deliberately conservative: fires
    * only when the query's single FROM names an indexed table with no
    * join/comma after it, and the top-level WHERE carries the
    * conjunct `col = <literal>` for that table's indexed column. The
    * FROM then retargets to the manifest-pruned file scan
    * ([[graft.ops.SkipIndex.scanEq]]); the WHERE stays in the query,
    * so the rewrite can only prune, never change results. Anything
    * outside that shape runs the normal full scan.
    */
  private def rewriteIndexScan(spark: SparkSession, q: String): String = {
    if (skipIndexes.isEmpty) return q
    val mask = topLevelMask(q)
    val fromRe = """(?i)\bFROM\s+([A-Za-z_]\w*)(\s*(,|JOIN|ASOF|ANY)\b)?""".r
    val froms = fromRe.findAllMatchIn(q).filter(m => mask(m.start)).toList
    froms match {
      case m :: Nil if m.group(2) == null =>
        val table = m.group(1).toLowerCase(java.util.Locale.ROOT)
        skipIndexes.get(table) match {
          case Some((dest, col0, typ)) =>
            val eqRe = ("""(?i)\b""" + java.util.regex.Pattern.quote(col0) +
              """\s*=\s*('(?:[^'])*'|-?\d+(?:\.\d+)?)""").r
            val whereM = firstTopLevel(q, whereRe)
            val hit = whereM.flatMap(w =>
              eqRe.findAllMatchIn(q).filter(_.start > w.end)
                .find(e => mask(e.start)))
            hit match {
              case Some(e) =>
                val raw = e.group(1)
                val value: Any =
                  if (raw.startsWith("'")) raw.substring(1, raw.length - 1)
                  else if (raw.contains('.')) raw.toDouble
                  else raw.toLong
                val pruned =
                  if (typ == "bloom_filter")
                    graft.ops.SkipIndex.scanEqBloom(spark, dest, col0,
                      value.toString)
                  else graft.ops.SkipIndex.scanEq(spark, dest, col0, value)
                val vw = s"${m.group(1)}__viaidx_${sysSeq.incrementAndGet()}"
                pruned.createOrReplaceTempView(vw)
                indexRoutedCount.incrementAndGet()
                q.substring(0, m.start) + s"FROM $vw" + q.substring(m.end)
              case None => q
            }
          case None => q
        }
      case _ => q
    }
  }

  // ---- small DDL statements ----------------------------------------

  private val createViewRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([A-Za-z_]\w*)\s+AS\s+((?:SELECT|WITH)\b.*)$""".r
  private val existsTableRe =
    """(?is)^\s*EXISTS\s+TABLE\s+([A-Za-z_]\w*)\s*$""".r
  private val showCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+(?:TABLE\s+)?([A-Za-z_]\w*)\s*$""".r
  private val showSettingsRe =
    """(?is)^\s*SHOW\s+SETTINGS(?:\s+LIKE\s+'([^']*)')?\s*$""".r
  private val deleteFromRe =
    """(?is)^\s*DELETE\s+FROM\s+([A-Za-z_]\w*)\s+(WHERE\s+.*?)\s*$""".r
  private val renameTableRe =
    """(?is)^\s*RENAME\s+TABLE\s+([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\s*$""".r

  // the optional column list MUST be captured here: letting a
  // column-list INSERT fall through to Spark's native path would
  // append files behind the view without firing MV triggers or
  // invalidating skip indexes
  private val insertSelectRe =
    """(?is)^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*(?:\(([^)]*)\)\s*)?((?:SELECT|WITH)\b.*)$""".r
  private val insertValuesRe =
    """(?is)^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*(?:\(([^)]*)\)\s*)?VALUES\s+(.*)$""".r

  /** `INSERT INTO t SELECT …` / `INSERT INTO t VALUES (…), (…)` —
    * writes the inserted block once, as a new part of `t`
    * ([[appendPart]]). The SELECT body goes back through [[run]], so
    * CH clauses work inside an INSERT; VALUES rows are positional and
    * adopt the target's column names.
    */
  private def colList(g: String): Option[Seq[String]] =
    Option(g).map(splitTopLevel(_).map(_.trim))

  private def runInsert(spark: SparkSession, table: String, body: String,
      positional: Boolean, cols: Option[Seq[String]] = None): DataFrame = {
    val cur = spark.table(table)
    val add0 = run(spark, body)
    val named = cols match {
      case Some(cs) => // explicit column list: positional w.r.t. it
        require(add0.columns.length == cs.size,
          s"INSERT provides ${add0.columns.length} values for " +
            s"${cs.size} listed columns")
        add0.toDF(cs.toIndexedSeq: _*)
      case None if positional =>
        require(add0.columns.length == cur.columns.length,
          s"INSERT VALUES arity ${add0.columns.length} != table ${cur.columns.length}")
        add0.toDF(cur.columns.toIndexedSeq: _*)
      case None => add0
    }
    // omitted columns take their registered DEFAULT (which may
    // reference the provided columns, CH-style) or NULL
    val have = named.columns.toSet
    val defaults = ctasDefaults.getOrElse(table, Map.empty)
    val add = cur.schema.fields.filterNot(f => have.contains(f.name))
      .foldLeft(named) { (d, f) =>
        val e = defaults.get(f.name).map(expr).getOrElse(lit(null))
        d.withColumn(f.name, e.cast(f.dataType))
      }
    // The block is written BEFORE the view repoints: the SELECT body
    // may read the target table itself, and the MV trigger below must
    // see the block as of insert time, not the new state.
    val block = appendPart(spark, table, add)
    fireMaterializedViews(spark, table, block)
    spark.table(table)
  }

  // ---- materialized views ------------------------------------------
  // CH MV semantics: an MV is an INSERT TRIGGER — its SELECT runs over
  // each newly inserted BLOCK of the source table and the result is
  // APPENDED to the MV's storage (so an aggregating MV holds one
  // partial row-set per block; readers re-aggregate, exactly like
  // AggregatingMergeTree targets upstream). `POPULATE` additionally
  // materializes the pre-existing data at creation. Joined dimension
  // tables inside the MV query still read their full current state —
  // only the FROM-source is block-scoped (CH behaves the same way).
  private val createMvRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_]\w*)(\s+POPULATE)?\s+AS\s+((?:SELECT|WITH)\b.*)$""".r
  private val dropTableRe = """(?is)^\s*DROP\s+TABLE\s+([A-Za-z_]\w*)\s*$""".r
  /** mv name → (source table, MV query text). */
  private val mvRegistry =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** tables created by `CREATE TABLE … ENGINE = … AS SELECT`. */
  private val ctasTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** verbatim CREATE statements, for SHOW CREATE TABLE. */
  private val ctasDdl =
    scala.collection.concurrent.TrieMap[String, String]()

  /** Spark → ClickHouse type spellings (the inverse of [[chType]]),
    * for synthesizing SHOW CREATE TABLE on tables that were not
    * created through the front door (fixture views).
    */
  private def sparkTypeToCh(dt: DataType): String = dt match {
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "String"
    case BooleanType => "Bool"
    case DateType => "Date"
    case TimestampType | TimestampNTZType => "DateTime"
    case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
    case a: org.apache.spark.sql.types.ArrayType =>
      s"Array(${sparkTypeToCh(a.elementType)})"
    case m: org.apache.spark.sql.types.MapType =>
      s"Map(${sparkTypeToCh(m.keyType)}, ${sparkTypeToCh(m.valueType)})"
    case other => other.simpleString // loud enough: non-CH spelling
  }

  private def firstFromTable(q: String): String = {
    val m = fromKwRe.findAllMatchIn(q)
      .find(mm => topLevelMask(q)(mm.start))
      .getOrElse(throw new IllegalArgumentException(
        s"this rewrite needs a named FROM table: $q"))
    val rest = q.substring(m.end).trim
    val id = rest.takeWhile(c => c.isLetterOrDigit || c == '_')
    require(id.nonEmpty && id.head.isLetter,
      s"MATERIALIZED VIEW source must be a named table (got '$rest')")
    id
  }

  /** Run each MV registered on `table` over the freshly inserted
    * `block` and append the result to the MV's parts.
    */
  private def fireMaterializedViews(spark: SparkSession, table: String,
      block: DataFrame): Unit =
    mvRegistry.toSeq.filter(_._2._1 == table).foreach { case (mv, (_, qtext)) =>
      val blockView = s"graft_mv_block_${mutationSeq.incrementAndGet()}"
      block.createOrReplaceTempView(blockView)
      val rebound = qtext.replaceAll("(?i)\\bFROM\\s+" + table + "\\b",
        "FROM " + blockView)
      appendPart(spark, mv, run(spark, rebound))
      spark.catalog.dropTempView(blockView)
    }

  private val truncateRe =
    """(?is)^\s*TRUNCATE\s+TABLE\s+([A-Za-z_]\w*)\s*$""".r
  private val optimizeRe =
    """(?is)^\s*OPTIMIZE\s+TABLE\s+([A-Za-z_]\w*)(\s+FINAL)?(\s+DEDUPLICATE)?\s*$""".r

  /** `CREATE FUNCTION f AS (a, b) -> body` / `AS x -> body` — the CH
    * SQL-lambda UDF, registered as a parse-once macro
    * ([[graft.functions.ChDialect.createFunction]]): call sites expand
    * to builtin expression trees, fully codegen'd.
    */
  private val createFnRe =
    """(?is)^\s*CREATE\s+FUNCTION\s+([A-Za-z_]\w*)\s+AS\s+(?:\(([^)]*)\)|([A-Za-z_]\w*))\s*->\s*(.+)$""".r
  private val dropFnRe =
    """(?is)^\s*DROP\s+FUNCTION\s+([A-Za-z_]\w*)\s*$""".r

  /** CH `EXPLAIN [AST|SYNTAX|PLAN|PIPELINE] q` → the matching Spark
    * plan as rows (AST/SYNTAX ≈ parsed/analyzed, PLAN ≈ optimized
    * logical, PIPELINE ≈ formatted physical — CH's pipeline is its
    * physical operator graph). The inner query goes back through
    * [[run]], so routed CH clauses explain too.
    */
  private val explainRe =
    """(?is)^\s*EXPLAIN(?:\s+(AST|SYNTAX|PLAN|PIPELINE|ESTIMATE|QUERY\s+TREE))?\s+((?:SELECT|WITH)\b.*)$""".r

  // ---- SETTINGS clause + query cache -------------------------------
  // CH queries routinely end with `SETTINGS k = v, …`. The clause is
  // peeled off and parsed; `use_query_cache = 1` engages a result
  // cache keyed by the settings-stripped query text in the session's
  // SessionCache (persisted MEMORY_AND_DISK; bounded by its LRU, and
  // `SYSTEM DROP QUERY CACHE` drops this session's entries — like CH's
  // cache, staleness after table mutations is the user's contract).
  // Unknown settings are accepted and ignored, which is exactly CH's
  // behavior for tuning-only settings an engine doesn't act on.
  private val settingsRe =
    """(?is)\bSETTINGS\s+([A-Za-z_]\w*\s*=\s*[^,\s]+(?:\s*,\s*[A-Za-z_]\w*\s*=\s*[^,\s]+)*)\s*$""".r
  private val dropCacheRe =
    """(?is)^\s*SYSTEM\s+DROP\s+QUERY\s+CACHE\s*$""".r
  /** CH system.query_log analog: a bounded ring of the session's
    * front-door queries (id, epoch-ms event time, verbatim text).
    * Driver-side metadata only — never row data.
    */
  private val queryLog =
    new java.util.concurrent.ConcurrentLinkedDeque[(Long, Long, String)]()
  private val queryLogCap = 1000
  private val queryLogSeq = new java.util.concurrent.atomic.AtomicLong()

  private def logQuery(q: String): Unit = {
    queryLog.addLast((queryLogSeq.incrementAndGet(),
      System.currentTimeMillis(), q))
    while (queryLog.size > queryLogCap) queryLog.pollFirst()
  }

  private val setStatementRe =
    """(?is)^\s*SET\s+(\w+)\s*=\s*(.+?)\s*$""".r

  /** CH settings that CHANGE QUERY RESULTS — accepting and ignoring
    * them would silently return different answers than CH, so they
    * fail loudly. Performance-only settings are recorded (visible in
    * system.settings) and, where a Spark session conf corresponds,
    * applied.
    */
  private val semanticSettings = Set(
    "join_use_nulls", "aggregate_functions_null_for_empty",
    "empty_result_for_aggregation_by_empty_set", "group_by_use_nulls",
    "final", "totals_mode", "count_distinct_implementation",
    "distributed_product_mode", "prefer_global_in_and_join",
    "insert_null_as_default", "union_default_mode",
    "transform_null_in", "any_join_distinct_right_table_keys")

  private def applySetting(spark: SparkSession, k0: String, v: String,
                           sessionScoped: Boolean = false): Unit = {
    val k = k0.toLowerCase(java.util.Locale.ROOT)
    require(!semanticSettings.contains(k),
      s"setting '$k0' changes query semantics in ClickHouse — refusing to " +
        "accept-and-ignore it; express the behavior in the query instead")
    k match {
      case "max_threads" =>
        // the one perf setting with a direct Spark analog. Validate
        // BEFORE touching the conf (a junk value would break every
        // later shuffle), and only mutate the session for the SET
        // statement — CH's SET is session-scoped, but the per-query
        // SETTINGS clause is not, and with lazy DataFrames a
        // save/restore around run() would not bind to this query's
        // execution anyway, so the clause form is record-only.
        val n = scala.util.Try(v.trim.toInt).getOrElse(
          throw new IllegalArgumentException(
            s"max_threads must be a positive integer, got '$v'"))
        require(n > 0, s"max_threads must be a positive integer, got '$v'")
        if (sessionScoped)
          spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      case _ => ()
    }
    spark.conf.set(s"graft.ch.setting.$k", v) // visible in system.settings
  }

  private def peelSettings(q: String): (String, Map[String, String]) =
    lastTopLevel(q, settingsRe) match {
      case Some(m) =>
        val kv = splitTopLevel(m.group(1)).map { pair =>
          val Array(k, v) = pair.split("=", 2)
          k.trim.toLowerCase(java.util.Locale.ROOT) ->
            v.trim.stripPrefix("'").stripSuffix("'")
        }.toMap
        (q.substring(0, m.start).trim, kv)
      case None => (q, Map.empty)
    }

  /** Strip `--` line and `/* */` block comments (string-aware) before
    * any routing: the clause peeler hands text fragments to
    * expr()/parseOrderItem, which must not see comment tails; Spark
    * itself would accept them, so stripping is semantics-preserving
    * (a block comment becomes one space so tokens never fuse).
    */
  private def stripLineComments(s: String): String = {
    if (!s.contains("--") && !s.contains("/*")) return s
    val out = new StringBuilder(s.length)
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        out.append(c); if (c == '\'') inStr = false; i += 1
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        val end = s.indexOf("*/", i + 2)
        require(end >= 0, "unterminated /* comment")
        out.append(' ')
        i = end + 2
      } else {
        out.append(c); if (c == '\'') inStr = true; i += 1
      }
    }
    out.toString
  }

  /** CH query parameters: `SET param_name = value` stores the value
    * (through the same settings store, visible in system.settings);
    * `{name:Type}` in later query text substitutes it — strings quote,
    * scalars go through a CAST in the CH type spelling (the cast-type
    * pass downstream maps it), Array types substitute the raw bracket
    * literal. Unset parameters fail loudly, like CH. Braces inside
    * string literals (format('{}…')) are masked out.
    */
  private val queryParamRe = """\{(\w+):([A-Za-z][\w()' ,]*)\}""".r

  private def rewriteQueryParams(spark: SparkSession, q: String): String = {
    if (queryParamRe.findFirstIn(q).isEmpty) return q
    val mask = inStringMask(q)
    queryParamRe.replaceAllIn(q, m =>
      if (mask(m.start)) Regex.quoteReplacement(m.matched)
      else {
        val (name, chT) = (m.group(1), m.group(2).trim)
        val v = spark.conf.getOption(s"graft.ch.setting.param_$name")
          .getOrElse(throw new IllegalArgumentException(
            s"query parameter '$name' is not set — " +
              s"run SET param_$name = <value> first"))
        Regex.quoteReplacement(
          if (chT.startsWith("Array")) v
          else if (chT == "String" || chT.startsWith("FixedString"))
            s"'${v.replace("'", "''")}'"
          else s"CAST('$v' AS $chT)")
      })
  }

  def run(spark: SparkSession, query0: String): DataFrame = {
    val query = rewriteQueryParams(spark, stripLineComments(query0))
    // log before routing (CH logs failed queries too); the log itself
    // is excluded so SELECTs over it don't self-append recursively
    if (!queryLogRe.findFirstIn(query).isDefined) logQuery(query0)
    dropCacheRe.findFirstMatchIn(query).foreach { _ =>
      SessionCache(spark).drop("query")
      import spark.implicits._
      return Seq("query cache dropped").toDF("status")
    }
    setStatementRe.findFirstMatchIn(query).foreach { m =>
      applySetting(spark, m.group(1),
        m.group(2).trim.stripPrefix("'").stripSuffix("'"),
        sessionScoped = true)
      import spark.implicits._
      return Seq(m.group(1)).toDF("set")
    }
    val (queryNoSettings, settings) = peelSettings(query)
    settings.foreach { case (k, v) =>
      if (k != "use_query_cache") applySetting(spark, k, v)
    }
    if (settings.get("use_query_cache").exists(v => v == "1" || v == "true"))
      return SessionCache(spark).getOrBuild("query", queryNoSettings) {
        run(spark, queryNoSettings)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    runStatement(spark, queryNoSettings)
  }

  private def runStatement(spark: SparkSession, query: String): DataFrame = {
    createFnRe.findFirstMatchIn(query).foreach { m =>
      val args = Option(m.group(2))
        .map(splitTopLevel(_)).getOrElse(Seq(m.group(3)))
      args.foreach(a => require(a.matches("[A-Za-z_]\\w*"),
        s"CREATE FUNCTION parameter '$a' must be an identifier"))
      graft.functions.ChDialect.createFunction(spark, m.group(1), args,
        m.group(4).trim)
      import spark.implicits._
      return Seq(m.group(1)).toDF("created")
    }
    dropFnRe.findFirstMatchIn(query).foreach { m =>
      graft.functions.ChDialect.dropFunction(spark, m.group(1))
      import spark.implicits._
      return Seq(m.group(1)).toDF("dropped")
    }
    explainRe.findFirstMatchIn(query).foreach { m =>
      val qe = run(spark, m.group(2)).queryExecution
      if (Option(m.group(1)).exists(_.equalsIgnoreCase("ESTIMATE"))) {
        // CH EXPLAIN ESTIMATE reports expected scan volume; the Spark
        // equivalent is the optimizer's plan statistics (CBO row
        // counts when stats exist, size propagation always)
        val st = qe.optimizedPlan.stats
        import spark.implicits._
        return Seq((st.rowCount.map(_.toLong).getOrElse(-1L),
          st.sizeInBytes.toLong))
          .toDF("estimated_rows", "estimated_bytes")
      }
      val text = Option(m.group(1)).map(_.toUpperCase(java.util.Locale.ROOT)) match {
        case Some("AST") => qe.logical.treeString
        case Some(qt) if qt.matches("(?i)QUERY\\s+TREE") =>
          // CH's analyzer-output view: the resolved logical tree
          qe.analyzed.treeString
        case Some("SYNTAX") => qe.analyzed.treeString
        case Some("PLAN") | None => qe.optimizedPlan.treeString
        case Some("PIPELINE") => qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        case Some(other) => throw new IllegalArgumentException(
          s"EXPLAIN $other unsupported")
      }
      import spark.implicits._
      return text.linesIterator.toSeq.toDF("explain")
    }
    createDictRe.findFirstMatchIn(query).foreach { m =>
      return runCreateDictionary(spark, m)
    }
    dropDictRe.findFirstMatchIn(query).foreach { m =>
      dictionaries.remove(m.group(1))
      import spark.implicits._
      return Seq(m.group(1)).toDF("dropped")
    }
    createTableRe.findFirstMatchIn(query).foreach { m =>
      return runCreateTable(spark, m)
    }
    createEmptyTableRe.findFirstMatchIn(query).foreach { m =>
      require(!"""(?is)\bAS\s+SELECT\b""".r.findFirstIn(m.group(3)).isDefined,
        "CREATE TABLE (schema) … AS SELECT: drop the column list " +
          "(CTAS derives the schema from the SELECT)")
      return runCreateEmptyTable(spark, m)
    }
    // CH `CREATE VIEW v AS SELECT` — a logical view: the query text
    // re-plans on every read (so it tracks later mutations of its
    // base tables), routed through run() so CH clauses work inside
    createViewRe.findFirstMatchIn(query).foreach { m =>
      val (name, body) = (m.group(1), m.group(2))
      run(spark, body).createOrReplaceTempView(name)
      import spark.implicits._
      return Seq(name).toDF("created_view")
    }
    existsTableRe.findFirstMatchIn(query).foreach { m =>
      import spark.implicits._
      return Seq(if (spark.catalog.tableExists(m.group(1))) 1 else 0)
        .toDF("result")
    }
    // SHOW PROCESSLIST — single-session engine: nothing concurrent to
    // report, but the statement must parse (CH CLI habit)
    if (query.trim.matches("(?is)^SHOW\\s+PROCESSLIST\\s*;?\\s*$")) {
      import spark.implicits._
      return Seq.empty[(String, Double)].toDF("query", "elapsed")
    }
    showSettingsRe.findFirstMatchIn(query).foreach { m =>
      val like = Option(m.group(1))
        .map(p => s" WHERE name LIKE '$p'").getOrElse("")
      return run(spark,
        s"SELECT name, value FROM system.settings$like ORDER BY name")
    }
    showCreateRe.findFirstMatchIn(query).foreach { m =>
      val name = m.group(1)
      import spark.implicits._
      ctasDdl.get(name).foreach(d => return Seq(d).toDF("statement"))
      require(spark.catalog.tableExists(name),
        s"SHOW CREATE TABLE: no table '$name'")
      // not created through the front door: synthesize CH-spelled DDL
      // from the schema (fixture views read as plain MergeTree)
      val cols = spark.table(name).schema.fields
        .map(f => s"  ${f.name} ${sparkTypeToCh(f.dataType)}")
        .mkString(",\n")
      return Seq(s"CREATE TABLE $name\n(\n$cols\n)\nENGINE = MergeTree")
        .toDF("statement")
    }
    // CH lightweight DELETE (`DELETE FROM t WHERE …`) — same
    // part rewrite as ALTER TABLE DELETE (upstream's
    // lightweight variant only differs in WHEN rows disappear)
    deleteFromRe.findFirstMatchIn(query).foreach { m =>
      return runAlter(spark, m.group(1), "DELETE", m.group(2))
    }
    renameTableRe.findFirstMatchIn(query).foreach { m =>
      val (a, b) = (m.group(1), m.group(2))
      require(spark.catalog.tableExists(a), s"RENAME TABLE: no table '$a'")
      require(!spark.catalog.tableExists(b), s"RENAME TABLE: '$b' already exists")
      spark.table(a).createOrReplaceTempView(b)
      spark.catalog.dropTempView(a)
      // carry engine metadata (FINAL collapse, sampling key, CTAS
      // bookkeeping, MV registration) to the new name
      val (al, bl) = (a.toLowerCase(java.util.Locale.ROOT),
        b.toLowerCase(java.util.Locale.ROOT))
      finalSpecs.remove(al).foreach(f => finalSpecs.put(bl, f))
      sampleKeys.remove(al).foreach(k => sampleKeys.put(bl, k))
      skipIndexes.remove(al).foreach(x => skipIndexes.put(bl, x))
      if (ctasTables.remove(a)) ctasTables.add(b)
      ctasDdl.remove(a).foreach(d => ctasDdl.put(b, d))
      ctasDefaults.remove(a).foreach(d => ctasDefaults.put(b, d))
      mvRegistry.remove(a).foreach(v => mvRegistry.put(b, v))
      import spark.implicits._
      return Seq(s"$a -> $b").toDF("renamed")
    }
    createMvRe.findFirstMatchIn(query).foreach { m =>
      val (mv, qtext) = (m.group(1), m.group(3).trim)
      val base = firstFromTable(qtext)
      require(spark.catalog.tableExists(base),
        s"MATERIALIZED VIEW source table '$base' does not exist")
      val initial =
        if (m.group(2) != null) run(spark, qtext)
        else run(spark, qtext).limit(0)
      repoint(mv, writePart(initial, mv, "mv"))
      mvRegistry(mv) = (base, qtext)
      import spark.implicits._
      return Seq(mv).toDF("created_mv")
    }
    dropTableRe.findFirstMatchIn(query).foreach { m =>
      val name = m.group(1)
      val wasMv = mvRegistry.remove(name).isDefined
      val wasCtas = ctasTables.remove(name)
      require(wasMv || wasCtas,
        s"DROP TABLE only manages MVs and CTAS tables here; '$name' is " +
          "neither — temp views drop via spark.catalog.dropTempView")
      if (wasCtas) {
        finalSpecs.remove(name.toLowerCase(java.util.Locale.ROOT))
        sampleKeys.remove(name.toLowerCase(java.util.Locale.ROOT))
        ctasDdl.remove(name)
        ctasDefaults.remove(name)
      }
      skipIndexes.remove(name.toLowerCase(java.util.Locale.ROOT))
      spark.catalog.dropTempView(name)
      import spark.implicits._
      return Seq(name).toDF("dropped")
    }
    addIndexRe.findFirstMatchIn(query).foreach { m =>
      return runAddIndex(spark, m)
    }
    dropIndexRe.findFirstMatchIn(query).foreach { m =>
      // reads fall back to the (still correct) full scan; the
      // reorganized data keeps serving the view
      invalidateIndex(m.group(1))
      import spark.implicits._
      return Seq(s"${m.group(1)}.${m.group(2)}").toDF("dropped_index")
    }
    alterColRe.findFirstMatchIn(query).foreach { m =>
      return runAlterColumn(spark, m.group(1), m.group(2), m.group(3))
    }
    alterRe.findFirstMatchIn(query).foreach { m =>
      return runAlter(spark, m.group(1), m.group(2), m.group(3))
    }
    truncateRe.findFirstMatchIn(query).foreach { m =>
      // TRUNCATE TABLE t → one empty part, view repointed
      return runAlter(spark, m.group(1), "DELETE", "WHERE true")
    }
    // CHECK TABLE t — CH's integrity probe; the Spark analog is a
    // full-scan count (broken files/footers surface as an exception)
    """(?is)^\s*CHECK\s+TABLE\s+([A-Za-z_]\w*)\s*$""".r
      .findFirstMatchIn(query).foreach { m =>
        val rows = spark.table(m.group(1)).count()
        import spark.implicits._
        return Seq((1, rows)).toDF("result", "rows_read")
      }
    // CH CLI spelling `INSERT INTO t [(cols)] FORMAT Values (…)` ≡
    // the VALUES form
    val query2 = """(?is)^(\s*INSERT\s+INTO\s+[A-Za-z_]\w*\s*(?:\([^)]*\)\s*)?)FORMAT\s+Values\s+"""
      .r.replaceFirstIn(query, "$1VALUES ")
    insertSelectRe.findFirstMatchIn(query2).foreach { m =>
      return runInsert(spark, m.group(1), m.group(3),
        positional = false, colList(m.group(2)))
    }
    insertValuesRe.findFirstMatchIn(query2).foreach { m =>
      return runInsert(spark, m.group(1),
        s"SELECT * FROM VALUES ${m.group(3)}", positional = true,
        colList(m.group(2)))
    }
    optimizeRe.findFirstMatchIn(query).foreach { m =>
      // OPTIMIZE TABLE t = merge the parts into one.
      // FINAL additionally collapses engine-specific duplicates; the
      // collapse comes from the table's registered engine metadata
      // (CTAS ENGINE clause / registerFinal). Unregistered tables
      // fail loudly toward the explicit operators.
      val table = m.group(1)
      val isFinal = m.group(2) != null
      val collapse: DataFrame => DataFrame =
        if (!isFinal) identity
        else finalSpecs.getOrElse(table.toLowerCase(java.util.Locale.ROOT),
          throw new IllegalArgumentException(
            "OPTIMIZE ... FINAL needs engine key metadata — CREATE TABLE " +
              "with a collapsing ENGINE (or registerFinal), or use " +
              "Relational.replacingLatest / versionedCollapseFinal explicitly"))
      // DEDUPLICATE drops fully identical rows (CH's whole-row form)
      val dedup: DataFrame => DataFrame =
        if (m.group(3) != null) _.distinct() else identity
      val cur = spark.table(table)
      val out = dedup(collapse(cur)).coalesce(1)
      return repoint(table, writePart(out, table, "opt", partCols(cur, out)))
    }
    // CH `SELECT … INTO OUTFILE 'path' [FORMAT f]` — the inner query
    // re-routes (so CH clauses work), then writes as a Spark
    // directory of part files (the distributed-native shape; CH's
    // single file does not survive parallel writers either).
    lastTopLevel(query, intoOutfileRe).foreach { m =>
      val df = run(spark, query.substring(0, m.start)).coalesce(1)
      val path = m.group(1)
      val w = df.write.mode("overwrite")
      Option(m.group(2)).map(_.toLowerCase(java.util.Locale.ROOT))
        .getOrElse("csv") match {
        case "csv" => w.csv(path)
        case "csvwithnames" => w.option("header", "true").csv(path)
        case "tsv" | "tabseparated" => w.option("sep", "\t").csv(path)
        case "jsoneachrow" | "ndjson" => w.json(path)
        case "parquet" => w.parquet(path)
        case other => throw new IllegalArgumentException(
          s"INTO OUTFILE FORMAT $other unsupported here " +
            "(CSV/CSVWithNames/TSV/JSONEachRow/Parquet)")
      }
      import spark.implicits._
      return Seq(path).toDF("outfile")
    }

    var q = registerCombinators(spark, rewriteIndexScan(spark,
      preRewrite(rewriteSpecialJoins(spark, rewriteStarMods(spark,
        rewriteChSubqueries(spark, rewriteFinal(spark,
          rewriteSystemTables(spark,
            rewriteParametric(spark,
              rewriteWhereAliases(rewriteLexical(query.trim)))))))))))

    // CH `SELECT DISTINCT ON (k…)` — first row per key group in the
    // query's order (CH documents it as `LIMIT 1 BY`). Spark cannot
    // parse it, so the keys peel off the head here and land on the
    // same LimitByPlan route as LIMIT 1 BY below.
    var distinctOnKeys: Seq[String] = Nil
    distinctOnRe.findFirstMatchIn(q).foreach { m =>
      val close = matchParenStr(q, m.end - 1)
      distinctOnKeys = splitTopLevel(q.substring(m.end, close)).map(_.trim)
      require(distinctOnKeys.nonEmpty, "DISTINCT ON needs at least one key")
      q = "SELECT " + q.substring(close + 1)
    }

    val needsRouting =
      lastTopLevel(q, limitByRe).isDefined ||
        lastTopLevel(q, withFillRe).isDefined ||
        lastTopLevel(q, limitTiesRe).isDefined ||
        distinctOnKeys.nonEmpty
    if (!needsRouting) return spark.sql(q)

    // Peel trailing clauses back to front: LIMIT n WITH TIES |
    // LIMIT n [OFFSET o], LIMIT [o,] n BY k…, [INTERPOLATE (cols)],
    // ORDER BY items.
    var rest = q
    val limitTies = lastTopLevel(rest, limitTiesRe).map { m =>
      rest = rest.substring(0, m.start)
      m.group(1).toInt
    }
    val finalLimit = lastTopLevel(rest, finalLimitRe).map { m =>
      rest = rest.substring(0, m.start)
      (Option(m.group(2)).map(_.toInt).getOrElse(0), m.group(1).toInt)
    }
    val limitBy = lastTopLevel(rest, limitByRe).map { m =>
      val keysRaw = rest.substring(m.end).trim
      rest = rest.substring(0, m.start)
      val inner = if (keysRaw.startsWith("(") && keysRaw.endsWith(")"))
        keysRaw.substring(1, keysRaw.length - 1) else keysRaw
      // CH: LIMIT n BY …, LIMIT offset, n BY …, LIMIT n OFFSET o BY …
      val (off, n) = (Option(m.group(2)), Option(m.group(3))) match {
        case (Some(g2), _) => (m.group(1).toInt, g2.toInt)
        case (None, Some(g3)) => (g3.toInt, m.group(1).toInt)
        case _ => (0, m.group(1).toInt)
      }
      (off, n, splitTopLevel(inner))
    }
    // (column, optional `AS expr`): the expression form applies expr
    // to the PREVIOUS row's value, iterated per filled row (CH
    // contract); bare columns repeat the previous value (LOCF)
    var interpolateCols: Seq[(String, Option[String])] = Nil
    val orderItems0 = lastTopLevel(rest, orderByRe) match {
      case Some(m) =>
        var section = rest.substring(m.end)
        rest = rest.substring(0, m.start)
        val ipOpenRe = """(?is)\bINTERPOLATE\s*\(""".r
        ipOpenRe.findFirstMatchIn(section)
          .filter(im => topLevelMask(section)(im.start)).foreach { im =>
          val close = matchParenStr(section, im.end - 1)
          require(section.substring(close + 1).trim.isEmpty,
            "INTERPOLATE (…) must close the ORDER BY section")
          interpolateCols =
            splitTopLevel(section.substring(im.end, close)).map { item =>
              val imask = topLevelMask(item)
              val asM = asRe.findAllMatchIn(item)
                .filter(x => imask(x.start)).toSeq
              if (asM.isEmpty) {
                require(item.trim.matches("[A-Za-z_][\\w.]*"),
                  s"INTERPOLATE item must be `col` or `col AS expr`, " +
                    s"got '${item.trim}'")
                (item.trim, None)
              } else {
                val c = item.substring(0, asM.head.start).trim
                require(c.matches("[A-Za-z_][\\w.]*"),
                  s"INTERPOLATE item must be `col` or `col AS expr`, " +
                    s"got '${item.trim}'")
                (c, Some(item.substring(asM.head.end).trim))
              }
            }
          section = section.substring(0, im.start)
        }
        splitTopLevel(section).map(parseOrderItem)
      case None => Seq.empty
    }

    var df = spark.sql(rest)

    // ORDER BY ordinals (`ORDER BY 1, 2`) resolve positionally now
    // that the core's schema is known.
    val orderItems = orderItems0.map { i =>
      if (i.name.forall(_.isDigit)) {
        val pos = i.name.toInt
        require(pos >= 1 && pos <= df.columns.length,
          s"ORDER BY ordinal $pos out of range (1..${df.columns.length})")
        i.copy(name = df.columns(pos - 1))
      } else i
    }

    // CH can sort / DISTINCT ON by any SOURCE column, not just the
    // SELECT list. Post-hoc routing needs those columns in the frame,
    // so missing plain-column names re-run the core with hidden
    // trailing columns (dropped at the end). Queries where injection
    // can't work (grouped cores, expressions) keep the loud error.
    var injected: Seq[String] = Nil
    val missingCols = (orderItems.map(_.name) ++ distinctOnKeys).distinct
      .filterNot(df.columns.contains)
    if (missingCols.nonEmpty && missingCols.forall(_.matches("[A-Za-z_]\\w*"))) {
      """(?i)\bFROM\b""".r.findAllMatchIn(rest)
        .find(m => topLevelMask(rest)(m.start)).foreach { m =>
          val rest2 = rest.substring(0, m.start) + ", " +
            missingCols.mkString(", ") + " " + rest.substring(m.start)
          scala.util.Try(spark.sql(rest2)) match {
            case scala.util.Success(d2)
                if missingCols.forall(d2.columns.contains) =>
              df = d2; injected = missingCols
            case _ => ()
          }
        }
    }

    // Post-hoc routing can only sort by columns the core query emits
    // (CH itself can sort by any source column; the workaround is the
    // same as for expressions — put the column in the SELECT list).
    orderItems.find(i => !df.columns.contains(i.name)).foreach { i =>
      throw new IllegalArgumentException(
        s"ORDER BY column '${i.name}' must appear in the SELECT list " +
          "for CH clause routing (add it, or alias the expression)")
    }

    if (distinctOnKeys.nonEmpty) {
      require(orderItems.nonEmpty,
        "DISTINCT ON needs ORDER BY for a deterministic representative row")
      distinctOnKeys.find(k => !df.columns.contains(k)).foreach { k =>
        throw new IllegalArgumentException(
          s"DISTINCT ON key '$k' must appear in the SELECT list")
      }
      df = LimitByPlan.limitBy(df, distinctOnKeys, 1,
        orderItems.map(i => (i.name, i.asc)))
    }

    for ((offset, n, keys0) <- limitBy) {
      // expression keys (`LIMIT 1 BY k % 2`, `… BY domain(url)`)
      // project into synthetic columns first — the physical operator
      // partitions on attributes — and drop them after the limit
      var synth = Seq.empty[String]
      val keys = keys0.zipWithIndex.map { case (k, i) =>
        if (df.columns.contains(k)) k
        else {
          val nm = s"__lb_key_$i"
          synth :+= nm
          df = df.withColumn(nm, expr(k))
          nm
        }
      }
      // CH allows LIMIT BY with no ORDER BY (arbitrary per-group rows);
      // the deterministic stand-in orders by every projected column — a
      // total order on row content, stable at any partition count
      val lbOrder =
        if (orderItems.nonEmpty) orderItems.map(i => (i.name, i.asc))
        else df.columns.toSeq.filterNot(synth.contains).map(c => (c, true))
      df =
        if (offset == 0) LimitByPlan.limitBy(df, keys, n, lbOrder)
        else // the offset form skips o rows per group — window route
          Relational.limitBy(df, keys, n,
            lbOrder.map { case (c, asc) => if (asc) col(c).asc else col(c).desc },
            offset)
      if (synth.nonEmpty) df = df.drop(synth: _*)
    }

    for (item <- orderItems if item.fill.isDefined) {
      val FillSpec(from, to, step, stepInterval, staleness) = item.fill.get
      // INTERPOLATE columns fill with NULL (then LOCF below); others
      // take their type default — CH's default-value fill.
      val fills = df.columns.filterNot(_ == item.name)
        .map(c => c -> (if (interpolateCols.exists(_._1 == c))
          lit(null).cast(df.schema(c).dataType)
        else chDefault(df.schema(c).dataType))).toMap
      df.schema(item.name).dataType match {
        case (DateType | TimestampType | TimestampNTZType)
            if from.isEmpty && to.isEmpty =>
          // calendar axis (DATE or a truncated timestamp): grid spans
          // the data's own min→max; STEP INTERVAL n UNIT sets the
          // stride, default daily
          df = Relational.withFillInterval(df, item.name,
            stepInterval.getOrElse("INTERVAL 1 DAY"), fills)
        case _: NumericType if staleness.isDefined =>
          // CH forbids TO together with STALENESS; FROM is ignored
          // there too (fill trails each ORIGINAL row only)
          require(to.isEmpty,
            "WITH FILL: TO and STALENESS cannot be used together (CH contract)")
          require(stepInterval.isEmpty,
            s"STALENESS needs a numeric axis STEP; '${item.name}'")
          require(item.asc,
            "WITH FILL STALENESS supports ascending axes only here — " +
              "a DESC axis would need downward trailing fill")
          df = Relational.withFillStaleness(df, item.name,
            step.getOrElse(1L), staleness.get, fills)
        case _: NumericType =>
          require(stepInterval.isEmpty,
            s"STEP INTERVAL needs a DATE/TIMESTAMP axis; '${item.name}' is numeric")
          require(from.isDefined && to.isDefined,
            s"WITH FILL on numeric '${item.name}' needs FROM and TO")
          df = Relational.withFillStep(df, item.name, from.get, to.get,
            step.getOrElse(1L), fills)
        case other =>
          throw new IllegalArgumentException(
            s"WITH FILL unsupported on ${item.name}: $other (numeric " +
              "FROM/TO/STEP, or bare fill on a DATE/day-truncated timestamp)")
      }
    }

    if (interpolateCols.nonEmpty) {
      val axis = orderItems.find(_.fill.isDefined).getOrElse(
        throw new IllegalArgumentException("INTERPOLATE requires WITH FILL")).name
      // CH INTERPOLATE (c): inserted rows repeat the previous value.
      // The frame here is the FILLED series — bounded by the fill
      // grid, not raw rows — so the global LOCF window is justified
      // (same contract as rel_fill_locf). Rows whose interpolate
      // column is genuinely NULL are treated as fill rows; aggregated
      // series don't produce NULL measures.
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(axis))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      for ((c, fxOpt) <- interpolateCols) fxOpt match {
        case None =>
          df = df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
        case Some(fx) =>
          // `c AS expr`: the i-th filled row after an original gets
          // expr applied i TIMES to the original's value (CH's
          // previous-row chain) — a bounded fold over sequence(1, i),
          // since i never exceeds the fill-run length. Only
          // self-references are supported: other columns would read
          // the CURRENT (filled) row here, not CH's previous row.
          val others = df.columns.filter(_ != c).filter(o =>
            ("\\b" + java.util.regex.Pattern.quote(o) + "\\b").r
              .findFirstIn(fx).isDefined)
          require(others.isEmpty,
            s"INTERPOLATE ($c AS expr): only references to '$c' are " +
              s"supported (previous-row semantics); found: " +
              others.mkString(", "))
          val accExpr = fx.replaceAll(
            "\\b" + java.util.regex.Pattern.quote(c) + "\\b", "__acc")
          val dt = df.schema(c).dataType.sql
          df = df
            .withColumn("__ipv", last(col(c), ignoreNulls = true).over(w))
            .withColumn("__igrp",
              count(when(col(c).isNotNull, lit(1))).over(w))
          val wr = org.apache.spark.sql.expressions.Window
            .partitionBy(col("__igrp")).orderBy(col(axis))
          df = df.withColumn("__irun", row_number().over(wr) - 1)
            .withColumn(c, when(col(c).isNotNull, col(c)).otherwise(expr(
              s"""CAST(aggregate(sequence(1, __irun),
                    CAST(__ipv AS $dt),
                    (__acc, __ii) -> CAST(($accExpr) AS $dt)) AS $dt)""")))
            .drop("__ipv", "__igrp", "__irun")
      }
    }

    for (n <- limitTies) {
      require(orderItems.nonEmpty, "LIMIT n WITH TIES needs ORDER BY")
      require(orderItems.forall(_.fill.isEmpty),
        "LIMIT WITH TIES does not combine with WITH FILL")
      df = limitWithTies(df, orderItems, n)
    }

    if (orderItems.nonEmpty)
      df = df.orderBy(orderItems.map(i =>
        if (i.asc) col(i.name).asc else col(i.name).desc): _*)
    for ((o, n) <- finalLimit) {
      if (o > 0) df = df.offset(o)
      df = df.limit(n)
    }
    if (injected.nonEmpty) df = df.drop(injected: _*)
    df
  }

  /** CH `LIMIT n WITH TIES`: the first n rows in the query's order
    * plus every row tied with the n-th on ALL the ORDER BY keys. No
    * global rank window (that would single-partition the raw rows):
    * the n-th row's key tuple is computed distributed — sort.limit(n)
    * then reverse-sort.limit(1), both TakeOrdered — and broadcast as
    * a one-row threshold; the keep set is a lexicographic comparison
    * against it, a plain scan filter at any scale (the same
    * broadcast-scalar shape as rel_limit_ties). NULL ordering mirrors
    * the sort defaults used below: ASC = NULLS FIRST, DESC = NULLS
    * LAST.
    */
  private def limitWithTies(df0: DataFrame, items: Seq[OrderItem],
      n: Int): DataFrame = {
    val df = df0
    val sortCols = items.map(i =>
      if (i.asc) col(i.name).asc else col(i.name).desc)
    val revCols = items.map(i =>
      if (i.asc) col(i.name).desc else col(i.name).asc)
    val nth = df.sort(sortCols: _*).limit(n).sort(revCols: _*).limit(1)
      .select(items.zipWithIndex.map { case (it, i) =>
        col(it.name).as(s"__ties_t$i") }: _*)
    def cmp(idx: Int): Column = {
      val it = items(idx)
      val k = col(it.name)
      val t = col(s"__ties_t$idx")
      val eq = k <=> t
      val precedes =
        if (it.asc) when(t.isNull, lit(false)).otherwise(k.isNull || k < t)
        else when(t.isNull, k.isNotNull).otherwise(k > t)
      if (idx == items.size - 1) precedes || eq
      else precedes || (eq && cmp(idx + 1))
    }
    df.crossJoin(broadcast(nth))
      .filter(cmp(0))
      .drop(items.indices.map(i => s"__ties_t$i"): _*)
  }
}
