package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DateType, Decimal, DecimalType, DoubleType, IntegerType, LongType, StringType, TimestampType}

/** ClickHouse-spelled SQL function names, so a ClickHouse user's query
  * text runs unchanged through `Graft.sql` (registered by
  * `Graft.init`). Three mechanisms:
  *
  *  1. alias → Spark builtin (same builder, CH name);
  *  2. small compositions of existing Catalyst expressions (still
  *     fully codegen'd — e.g. `toStartOfDay`, `empty`, `multiIf`,
  *     `greatCircleDistance` as the haversine tree);
  *  3. our custom expressions under their CH spellings (`sipHash64`,
  *     `geohashEncode`, `pointInPolygon`, `cosineDistance`).
  *
  * Only dialect SPELLING is mapped here; semantics stay Spark's
  * (documented per entry where they differ — known residual drift:
  * `rand` returns a double in [0,1) not a UInt32, and `uniq` maps to
  * Spark's HLL++ sketch, which can differ from CH's uniq estimate on
  * the same data; use `uniqExact` for engine-identical counts).
  */
object ChDialect {

  /** joinGet lookup maps, collected ONCE per (session, table, column,
    * analyzed-plan fingerprint) instead of on every analysis of every
    * query using the function — entries of kind "joinGet" in the
    * session's [[graft.SessionCache]]. The fingerprint is the view's
    * analyzed plan semanticHash: a mutation snapshots into a new path
    * and re-points the temp view, so its hash changes and the stale map
    * is never served; stale entries age out of the session LRU. The
    * collect runs outside the cache lock, so a re-entrant joinGet (a
    * view whose plan itself calls joinGet) cannot deadlock.
    */
  private def joinGetMapLit(spark: SparkSession, tblE: Expression,
      colE: Expression): (Literal, DataType, DataType) = {
    def strLit(e: Expression, what: String): String = e match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"joinGet: $what must be a string literal, got ${other.sql}")
    }
    val tbl = strLit(tblE, "the table name")
    val valueCol = strLit(colE, "the value column")
    val df = spark.table(tbl)
    val fp = df.queryExecution.analyzed.semanticHash()
    graft.SessionCache(spark).getOrBuild("joinGet", (tbl, valueCol, fp)) {
      val keyCol = df.columns.headOption.getOrElse(
        throw new IllegalArgumentException(
          s"joinGet: table '$tbl' has no columns"))
      require(df.columns.contains(valueCol),
        s"joinGet: no column '$valueCol' in '$tbl' " +
          s"(have: ${df.columns.mkString(", ")})")
      val cap = 100000
      val rows = df.select(org.apache.spark.sql.functions.col(keyCol),
          org.apache.spark.sql.functions.col(valueCol))
        .na.drop(Seq(keyCol)).take(cap + 1)
      require(rows.length <= cap,
        s"joinGet: '$tbl' exceeds $cap rows — use an explicit broadcast " +
          "join for lookups at that size")
      val keyT = df.schema(keyCol).dataType
      val valT = df.schema(valueCol).dataType
      (Literal.create(rows.iterator.map(r => r.get(0) -> r.get(1)).toMap,
        org.apache.spark.sql.types.MapType(keyT, valT)), keyT, valT)
    }
  }

  /** CH name → Spark builtin with identical argument semantics. */
  private val builtinAliases: Map[String, String] = Map(
    "lengthUTF8" -> "length",
    "lowerUTF8" -> "lower",
    "upperUTF8" -> "upper",
    "isValidUTF8" -> "is_valid_utf8",
    "toValidUTF8" -> "make_valid_utf8",
    "toDate" -> "to_date",
    "toDateTime" -> "to_timestamp",
    "modulo" -> "mod",
    "intDiv" -> "div",
    "ifNull" -> "ifnull",
    "nullIf" -> "nullif",
    // 24.7 camelCase window-function aliases
    "percentRank" -> "percent_rank",
    "denseRank" -> "dense_rank",
    "arrayReverse" -> "reverse",
    // (arrayShuffle is NOT Spark's RNG `shuffle`: the deterministic
    // md5-order macroFnN below is the real registration — identical
    // results at any executor count. The alias that lived here was a
    // guard-flagged shadowed duplicate.)
    "mid" -> "substring",
    "arrayConcat" -> "concat",
    "has" -> "array_contains",
    "indexOf" -> "array_position",
    // arrayStringConcat is NOT an array_join alias: CH defaults the
    // separator to '' (1-arg form) which bare array_join rejects —
    // the reg(...) builder below covers both arities. (The alias
    // lived here too until the collision guard flagged it; the later
    // reg registration had been silently winning.)
    // (`uniq` itself is NOT an alias: the reg(...) builder below
    // wraps multi-arg calls in a struct before the HLL++, which the
    // bare approx_count_distinct alias would misread as an rsd — the
    // collision guard flagged the shadowed alias that lived here.)
    // CH's other approximate-distinct sketches — all map to Spark's
    // HLL++ (same documented estimate-drift caveat as `uniq`)
    "uniqCombined" -> "approx_count_distinct",
    "uniqCombined64" -> "approx_count_distinct",
    "uniqHLL12" -> "approx_count_distinct",
    // NOTE: CH `position(haystack, needle)` is NOT aliased — Spark's
    // builtin `position(needle, str)` has the reversed order and
    // shadowing it would silently flip Spark-spelled queries in the
    // same session. `positionUTF8` (no Spark collision) covers it.
    "positionUTF8" -> "instr",
    "leftUTF8" -> "left",
    "rightUTF8" -> "right",
    "makeDate" -> "make_date",
    "makeDateTime" -> "make_timestamp",
    "toDate32" -> "to_date",
    "currentUser" -> "current_user",
    "max2" -> "greatest",
    "min2" -> "least",
    "toInt64" -> "bigint",
    "toFloat64" -> "double",
    "rand" -> "rand",
    "least" -> "least",
    "greatest" -> "greatest",
    // aggregate spellings (identical argument semantics).
    // NOTE: CH `any` is NOT aliased — Spark's builtin `any` is
    // bool_or, and shadowing it would flip Spark-spelled queries;
    // any_value covers the semantics under a collision-free name.
    "argMax" -> "max_by",
    "argMin" -> "min_by",
    "quantileExact" -> "percentile",
    "medianExact" -> "median",
    "groupArray" -> "collect_list",
    "groupUniqArray" -> "collect_set",
    "stddevPop" -> "stddev_pop",
    "stddevSamp" -> "stddev_samp",
    "varPop" -> "var_pop",
    "varSamp" -> "var_samp",
    "covarPop" -> "covar_pop",
    "covarSamp" -> "covar_samp",
    // string family
    "leftPad" -> "lpad",
    "rightPad" -> "rpad",
    "trimBoth" -> "trim",
    "trimLeft" -> "ltrim",
    "trimRight" -> "rtrim",
    "base64Encode" -> "base64",
    // numeric casts / rounding
    "toInt32" -> "int",
    "toInt16" -> "smallint",
    "toInt8" -> "tinyint",
    "toFloat32" -> "float",
    "roundBankers" -> "bround",
    "bitCount" -> "bit_count",
    // array family (arraySlice needs Spark's 3-arg form — CH's 2-arg
    // "to the end" variant is not expressible via the alias)
    "arrayFlatten" -> "flatten",
    "arrayDistinct" -> "array_distinct",
    "arraySlice" -> "slice",
    "arrayIntersect" -> "array_intersect",
    "arrayMin" -> "array_min",
    "arrayMax" -> "array_max",
    // map family
    "mapKeys" -> "map_keys",
    "mapValues" -> "map_values",
    "mapContains" -> "map_contains_key",
    // aggregate: CH anyLast picks an arbitrary "last seen" value —
    // Spark's last() is the same contract (execution-order dependent)
    "anyLast" -> "last",
    // set-membership / string predicates (same argument order)
    "hasAny" -> "arrays_overlap",
    "startsWith" -> "startswith",
    "endsWith" -> "endswith",
    "substringUTF8" -> "substring",
    // bit shifts
    "bitShiftLeft" -> "shiftleft",
    "bitShiftRight" -> "shiftright",
    // tuple/zip family (identical argument order)
    "tuple" -> "struct",
    "arrayZip" -> "arrays_zip",
    "arrayElement" -> "element_at",
    "mapFromArrays" -> "map_from_arrays",
    // string replace family (identical argument order)
    "replaceAll" -> "replace",
    "replaceRegexpAll" -> "regexp_replace",
    // clock functions (CH spellings; now() already matches Spark's)
    "today" -> "current_date",
    "toTypeName" -> "typeof",
    "toJSONString" -> "to_json",
    // CH window-frame spellings of lag/lead (CH reserves the bare
    // names for the deprecated block-order forms; the InFrame pair is
    // the documented window function — semantics identical to Spark's)
    "lagInFrame" -> "lag",
    "leadInFrame" -> "lead",
    "editDistance" -> "levenshtein",
    "fromUnixTimestamp64Milli" -> "timestamp_millis",
    "fromUnixTimestamp64Micro" -> "timestamp_micros",
    // toUnixTimestamp64Milli/Micro are reg builders (tz-shift unwrap)
    "fromUnixTimestamp" -> "timestamp_seconds")

  /** CH `CREATE FUNCTION name AS (args) -> body` [public docs:
    * sql-reference/statements/create/function]: registered as a SQL
    * MACRO — each call site substitutes its argument trees for the
    * parameter placeholders of the parsed body, so the expansion stays
    * builtin (codegen'd) expressions end to end; no UDF, no
    * interpretation. Non-parameter identifiers resolve as columns at
    * the call site, like any SQL expression. The body is parsed HERE,
    * so a malformed one fails at CREATE, as in ClickHouse.
    */
  def createFunction(spark: SparkSession, name: String, argNames: Seq[String],
      body: String): Unit = createMacro(spark, name, Seq(argNames -> body), eager = true)

  /** A session's dialect macros: the parameter counts of each built-in
    * and the number of bodies parsed so far (specs read both).
    */
  private[graft] final class Macros {
    val arities = new java.util.concurrent.ConcurrentHashMap[String, Seq[Int]]()
    val parsed = new java.util.concurrent.atomic.AtomicLong()
  }
  private[graft] def macros(spark: SparkSession): Macros =
    graft.SessionCache(spark).slot("chdialect.macros")(new Macros)

  /** Registers `name` as a macro with one (parameters, body) template
    * per arity: a call picks the template of its argument count and
    * substitutes its argument trees for the parameters. A built-in's
    * template is parsed on the first call of its arity and reused
    * after, so registering the dialect parses no body; `eager` parses
    * them all now. The parser is the session's, which reads its confs.
    */
  private def createMacro(spark: SparkSession, name: String,
      variants: Seq[(Seq[String], String)], eager: Boolean = false): Unit = {
    val parser = spark.sessionState.sqlParser
    val m = macros(spark)
    val templates = variants.map { case (an, b) =>
      lazy val t = { val e = parser.parseExpression(b); m.parsed.incrementAndGet(); e }
      an -> (() => t)
    }
    if (eager) templates.foreach(_._2())
    else m.arities.put(name, variants.map(_._1.size))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, { c =>
      val (an, template) = templates.find(_._1.size == c.size).getOrElse(
        throw new IllegalArgumentException(s"$name expects " +
          s"${variants.map(_._1.size).mkString("/")} argument(s), got ${c.size}"))
      // inside lambda bodies the parser wraps EVERY identifier as
      // UnresolvedNamedLambdaVariable (it can't know which are
      // lambda parameters yet) — match both node shapes
      template().transformUp {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if an.contains(ua.name) => c(an.indexOf(ua.name))
        case lv: UnresolvedNamedLambdaVariable
            if lv.nameParts.length == 1 && an.contains(lv.nameParts.head) =>
          c(an.indexOf(lv.nameParts.head))
      }
    }, "built-in")
  }

  /** CH `DROP FUNCTION name`. */
  def dropFunction(spark: SparkSession, name: String): Unit =
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))

  // Abramowitz & Stegun 7.1.26 rational approximation (|err| < 1.5e-7)
  private def erfImpl(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) *
      t - 0.284496736) * t + 0.254829592) * t * math.exp(-x * x)
    if (x >= 0) y else -y
  }

  // Lanczos approximation, g = 7, n = 9 (double-precision standard)
  private val lanczosG = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  private def lgammaImpl(x0: Double): Double =
    if (x0 < 0.5)
      // reflection: ln Γ(x) = ln(π / sin(πx)) − ln Γ(1 − x)
      math.log(math.Pi / math.abs(math.sin(math.Pi * x0))) - lgammaImpl(1.0 - x0)
    else {
      val x = x0 - 1.0
      var a = lanczosG(0)
      val t = x + 7.5
      for (i <- 1 until 9) a += lanczosG(i) / (x + i)
      0.5 * math.log(2.0 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }

  private def tgammaImpl(x: Double): Double =
    if (x < 0.5)
      math.Pi / (math.sin(math.Pi * x) * tgammaImpl(1.0 - x))
    else math.exp(lgammaImpl(x))

  // Acklam's rational approximation of the inverse normal CDF
  // (|rel err| < 1.15e-9 over (0,1)) — the probit behind CH's
  // minSampleSize* A/B-test planners, which take arbitrary
  // alpha/power and so genuinely need Φ⁻¹, not pinned constants.
  private def probitImpl(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"probit: p must be in (0,1), got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pLow) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** CH minSampleSizeContinous(baseline, sigma, mde, power, alpha) →
    * (minimum_sample_size, detect_range_lower, detect_range_upper).
    * mde is RELATIVE to baseline; two-sided test, per-variant size:
    * n = 2(z_{1−α/2} + z_pow)²σ² / (mde·baseline)².
    */
  /** Parse an IPv6 text literal (RFC 4291 forms: full groups, one
    * `::` elision, optional dotted-IPv4 tail) to its 16 bytes, or
    * null if malformed. No DNS — pure text.
    */
  private def parseIPv6(s0: String): Array[Byte] = {
    if (s0 == null) return null
    val s = s0.trim
    if (s.isEmpty || s.count(_ == ':') < 2) return null
    val dcol = s.indexOf("::")
    if (dcol >= 0 && s.indexOf("::", dcol + 1) >= 0) return null
    def parseGroups(part: String): Option[Vector[Int]] = {
      if (part.isEmpty) return Some(Vector.empty)
      val raw = part.split(":", -1)
      if (raw.exists(_.isEmpty)) return None
      var out = Vector.empty[Int]
      for ((g, i) <- raw.zipWithIndex) {
        if (g.contains('.')) {
          // dotted-IPv4 tail — only legal as the LAST token
          if (i != raw.length - 1) return None
          val oct = g.split("\\.", -1)
          if (oct.length != 4) return None
          val vals = oct.map { o =>
            if (o.isEmpty || o.length > 3 || !o.forall(_.isDigit)) return None
            val v = o.toInt
            if (v > 255) return None
            v
          }
          out = out :+ (vals(0) * 256 + vals(1)) :+ (vals(2) * 256 + vals(3))
        } else {
          if (g.length > 4 ||
            !g.forall(c => Character.digit(c, 16) >= 0)) return None
          out = out :+ Integer.parseInt(g, 16)
        }
      }
      Some(out)
    }
    val groups: Option[Vector[Int]] =
      if (dcol >= 0) {
        val left = parseGroups(s.substring(0, dcol))
        val right = parseGroups(s.substring(dcol + 2))
        (left, right) match {
          case (Some(l), Some(r)) if l.size + r.size < 8 =>
            Some(l ++ Vector.fill(8 - l.size - r.size)(0) ++ r)
          case _ => None
        }
      } else parseGroups(s).filter(_.size == 8)
    groups.map { gs =>
      val b = new Array[Byte](16)
      for (i <- 0 until 8) {
        b(2 * i) = ((gs(i) >> 8) & 0xff).toByte
        b(2 * i + 1) = (gs(i) & 0xff).toByte
      }
      b
    }.orNull
  }

  /** Regularized incomplete beta I_x(a,b) via the Lentz continued
    * fraction [Numerical Recipes 3rd ed. §6.4, public algorithm] —
    * enough precision for p-values (|err| < 1e-10 over the t range).
    */
  private def betacf(a: Double, b: Double, x: Double): Double = {
    val eps = 1e-14; val fpmin = 1e-300
    val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < fpmin) d = fpmin
    d = 1.0 / d
    var h = d
    var m = 1
    while (m <= 200) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
      c = 1.0 + aa / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1.0 / d; h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
      c = 1.0 + aa / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < eps) return h
      m += 1
    }
    h
  }

  private def ibeta(a: Double, b: Double, x: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    val lnBt = lgammaImpl(a + b) - lgammaImpl(a) - lgammaImpl(b) +
      a * math.log(x) + b * math.log(1.0 - x)
    val bt = math.exp(lnBt)
    if (x < (a + 1.0) / (a + b + 2.0)) bt * betacf(a, b, x) / a
    else 1.0 - bt * betacf(b, a, 1.0 - x) / b
  }

  /** Two-sided Student-t p-value: I_{df/(df+t²)}(df/2, 1/2). */
  private def tPValue(t: Double, df: Double): Double =
    if (df <= 0 || t.isNaN) Double.NaN
    else ibeta(df / 2.0, 0.5, df / (df + t * t))

  private def minSampleContinuous(baseline: Double, sigma: Double,
      mde: Double, power: Double, alpha: Double): (Double, Double, Double) = {
    val za = probitImpl(1.0 - alpha / 2.0)
    val zb = probitImpl(power)
    val delta = mde * baseline
    val n = 2.0 * (za + zb) * (za + zb) * sigma * sigma / (delta * delta)
    (n, baseline - delta, baseline + delta)
  }

  /** CH minSampleSizeConversion(p1, mde, power, alpha) — mde is the
    * ABSOLUTE shift in conversion rate; pooled-variance normal
    * approximation (Fleiss):
    * n = (z_{1−α/2}·√(2p̄q̄) + z_pow·√(p1q1 + p2q2))² / mde².
    */
  private def minSampleConversion(p1: Double, mde: Double,
      power: Double, alpha: Double): (Double, Double, Double) = {
    val za = probitImpl(1.0 - alpha / 2.0)
    val zb = probitImpl(power)
    val p2 = p1 + mde
    val pBar = (p1 + p2) / 2.0
    val s = za * math.sqrt(2.0 * pBar * (1.0 - pBar)) +
      zb * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    (s * s / (mde * mde), p1 - mde, p1 + mde)
  }

  // RFC 3492 bootstring (the raw Punycode CH's punycodeEncode/Decode
  // speak — whole string, no 'xn--' prefix). Parameters per the RFC:
  // base 36, tmin 1, tmax 26, skew 38, damp 700, bias 72, n 128.
  private def punyAdapt(delta0: Int, numPoints: Int, firstTime: Boolean): Int = {
    var delta = if (firstTime) delta0 / 700 else delta0 / 2
    delta += delta / numPoints
    var k = 0
    while (delta > ((36 - 1) * 26) / 2) { delta /= 36 - 1; k += 36 }
    k + (36 * delta) / (delta + 38)
  }

  private def punycodeEncodeImpl(s: String): String = {
    val in = s.codePoints().toArray
    val out = new StringBuilder
    in.foreach(c => if (c < 128) out.append(c.toChar))
    val b = out.length
    if (b > 0) out.append('-') // RFC 6.3: delimiter whenever basics exist
    var n = 128; var delta = 0; var bias = 72; var h = b
    def digit(d: Int): Char =
      (if (d < 26) 'a' + d else '0' + d - 26).toChar
    while (h < in.length) {
      val m = in.filter(_ >= n).min
      delta += (m - n) * (h + 1)
      n = m
      in.foreach { c =>
        if (c < n) delta += 1
        if (c == n) {
          var q = delta; var k = 36
          var done = false
          while (!done) {
            val t = if (k <= bias) 1 else if (k >= bias + 26) 26 else k - bias
            if (q < t) done = true
            else {
              out.append(digit(t + (q - t) % (36 - t)))
              q = (q - t) / (36 - t); k += 36
            }
          }
          out.append(digit(q))
          bias = punyAdapt(delta, h + 1, h == b)
          delta = 0; h += 1
        }
      }
      delta += 1; n += 1
    }
    out.toString
  }

  private def punycodeDecodeImpl(s: String): String = {
    val last = s.lastIndexOf('-')
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (last > 0) s.substring(0, last).foreach { c =>
      require(c < 128, s"punycodeDecode: non-basic code point '$c'")
      out += c.toInt
    }
    var pos = if (last >= 0) last + 1 else 0
    var n = 128; var i = 0; var bias = 72
    while (pos < s.length) {
      val oldi = i; var w = 1; var k = 36
      var done = false
      while (!done) {
        require(pos < s.length, "punycodeDecode: truncated input")
        val c = s.charAt(pos); pos += 1
        val digit =
          if (c >= 'a' && c <= 'z') c - 'a'
          else if (c >= 'A' && c <= 'Z') c - 'A'
          else if (c >= '0' && c <= '9') c - '0' + 26
          else throw new IllegalArgumentException(
            s"punycodeDecode: invalid digit '$c'")
        i += digit * w
        val t = if (k <= bias) 1 else if (k >= bias + 26) 26 else k - bias
        if (digit < t) done = true else { w *= 36 - t; k += 36 }
      }
      bias = punyAdapt(i - oldi, out.length + 1, oldi == 0)
      n += i / (out.length + 1)
      i %= out.length + 1
      out.insert(i, n)
      i += 1
    }
    new String(out.toArray, 0, out.length)
  }

  /** Classic Jaro similarity (the matches/transpositions core). */
  private def jaro(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    if (a == b) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    val window = math.max(a.length, b.length) / 2 - 1
    val aM = new Array[Boolean](a.length)
    val bM = new Array[Boolean](b.length)
    var matches = 0
    for (i <- a.indices) {
      val lo = math.max(0, i - window); val hi = math.min(b.length - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && a(i) == b(j)) { aM(i) = true; bM(j) = true
          matches += 1; found = true }
        j += 1
      }
    }
    if (matches == 0) return 0.0
    var t = 0; var k = 0
    for (i <- a.indices if aM(i)) {
      while (!bM(k)) k += 1
      if (a(i) != b(k)) t += 1
      k += 1
    }
    val m = matches.toDouble
    (m / a.length + m / b.length + (m - t / 2.0) / m) / 3.0
  }

  /** Jaro-Winkler = Jaro + the Winkler prefix bonus (0.1, max 4). */
  private def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j == 0.0 || j == 1.0 || a == null || b == null) return j
    var prefix = 0
    while (prefix < math.min(4, math.min(a.length, b.length)) &&
      a(prefix) == b(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  // ---- wave-23 helpers (r12) ----------------------------------------

  /** Bit-interleave two UInt32s into a UInt64 — CH mortonEncode(x, y)
    * for the 2-argument form [CH docs: sql-reference/functions/
    * morton-encoding-functions]. x occupies the even bit positions
    * (bit 0, 2, …), y the odd — matching CH's argument order where
    * decode returns (x, y).
    */
  private def mortonEncode2(x: Long, y: Long): Long = {
    def spread(v: Long): Long = {
      var r = v & 0xffffffffL
      r = (r | (r << 16)) & 0x0000ffff0000ffffL
      r = (r | (r << 8)) & 0x00ff00ff00ff00ffL
      r = (r | (r << 4)) & 0x0f0f0f0f0f0f0f0fL
      r = (r | (r << 2)) & 0x3333333333333333L
      r = (r | (r << 1)) & 0x5555555555555555L
      r
    }
    spread(x) | (spread(y) << 1)
  }

  private def mortonDecode2(z: Long): (Long, Long) = {
    def compact(v: Long): Long = {
      var r = v & 0x5555555555555555L
      r = (r | (r >>> 1)) & 0x3333333333333333L
      r = (r | (r >>> 2)) & 0x0f0f0f0f0f0f0f0fL
      r = (r | (r >>> 4)) & 0x00ff00ff00ff00ffL
      r = (r | (r >>> 8)) & 0x0000ffff0000ffffL
      r = (r | (r >>> 16)) & 0x00000000ffffffffL
      r
    }
    (compact(z), compact(z >>> 1))
  }

  /** Hilbert curve (x,y) → d for a 2^32-square — the classic
    * rotate-and-accumulate walk [Wikipedia: Hilbert curve,
    * "Applications and mapping algorithms"]; CH hilbertEncode's
    * 2-argument form.
    */
  private def hilbertEncode2(x0: Long, y0: Long): Long = {
    var rx = 0L; var ry = 0L; var d = 0L
    var x = x0 & 0xffffffffL; var y = y0 & 0xffffffffL
    var s = 1L << 31
    while (s > 0) {
      rx = if ((x & s) > 0) 1L else 0L
      ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate quadrant
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  private def hilbertDecode2(d0: Long): (Long, Long) = {
    var x = 0L; var y = 0L
    var t = d0
    var s = 1L
    while (s < (1L << 32)) {
      // UNSIGNED halving/quartering: the full 32×32-bit index uses all
      // 64 bits, so signed division would corrupt the walk once the
      // top bit is set (caught by the 500-coordinate roundtrip
      // property test) — logical shifts are the unsigned ops
      val rx = 1L & (t >>> 1)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t >>>= 2
      s <<= 1
    }
    (x, y)
  }

  /** Crockford base32 value of the ULID's 10-char timestamp prefix →
    * epoch milliseconds [ULID spec, public]. */
  private def ulidMillis(s: String): java.lang.Long = {
    if (s == null || s.length < 10) return null
    val alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
    var ms = 0L
    var i = 0
    while (i < 10) {
      val c = Character.toUpperCase(s.charAt(i))
      val v = alphabet.indexOf(c)
      if (v < 0) return null
      ms = ms * 32 + v
      i += 1
    }
    ms
  }

  /** Character 4-gram multiset of a string (CH's ngram functions use
    * n=4 over bytes; chars here — identical for ASCII fixtures). */
  private def ngrams4(s: String): Map[String, Int] = {
    if (s == null || s.length < 4) Map.empty
    else (0 to s.length - 4).map(i => s.substring(i, i + 4))
      .groupBy(identity).map { case (g, occ) => (g, occ.size) }
  }

  /** CH ngramDistance(haystack, needle): symmetric difference of the
    * two 4-gram multisets over their total size, in [0,1]. */
  private def ngramDistanceImpl(h: String, n: String): Double = {
    val a = ngrams4(h); val b = ngrams4(n)
    val total = a.values.sum + b.values.sum
    if (total == 0) return if ((h == null || h.isEmpty) == (n == null || n.isEmpty)) 0.0 else 1.0
    val symDiff = (a.keySet ++ b.keySet).iterator
      .map(g => math.abs(a.getOrElse(g, 0) - b.getOrElse(g, 0))).sum
    symDiff.toDouble / total
  }

  /** CH ngramSearch(haystack, needle): share of the needle's 4-grams
    * found in the haystack (non-symmetric), in [0,1]. */
  private def ngramSearchImpl(h: String, n: String): Double = {
    val a = ngrams4(h); val b = ngrams4(n)
    val need = b.values.sum
    if (need == 0) return 1.0
    val matched = b.iterator
      .map { case (g, c) => math.min(c, a.getOrElse(g, 0)) }.sum
    matched.toDouble / need
  }

  /** Damerau-Levenshtein in the OSA (adjacent-transposition) form —
    * the variant CH's byte-distance family computes.
    */
  private def damerauLevenshtein(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    var i = 0
    while (i <= a.length) { d(i)(0) = i; i += 1 }
    var j = 0
    while (j <= b.length) { d(0)(j) = j; j += 1 }
    i = 1
    while (i <= a.length) {
      j = 1
      while (j <= b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + cost)
        if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          d(i)(j) = math.min(d(i)(j), d(i - 2)(j - 2) + 1)
        j += 1
      }
      i += 1
    }
    d(a.length)(b.length)
  }

  /** RFC 7386 JSON merge patch over json4s trees (Spark bundles
    * json4s-jackson): object keys merge recursively, a null patch
    * value REMOVES the key, any non-object patch replaces wholesale.
    */
  private def jsonMergePatch(target: org.json4s.JValue,
      patch: org.json4s.JValue): org.json4s.JValue = {
    import org.json4s._
    patch match {
      case JObject(pf) =>
        val tf = target match {
          case JObject(f) => f.toMap
          case _ => Map.empty[String, JValue]
        }
        val keys = (tf.keys ++ pf.map(_._1)).toSeq.distinct
        val patchMap = pf.toMap
        JObject(keys.flatMap { k =>
          patchMap.get(k) match {
            case Some(JNull) => None
            case Some(pv) =>
              Some(k -> jsonMergePatch(tf.getOrElse(k, JNothing), pv))
            case None => Some(k -> tf(k))
          }
        }.toList)
      case other => other
    }
  }

  /** CH formatReadableTimeDelta: "2 hours, 7 minutes and 33 seconds". */
  private def readableTimeDelta(secs: Double): String = {
    val total = math.round(secs)
    val units = Seq(
      ("year", 31536000L), ("month", 2592000L), ("day", 86400L),
      ("hour", 3600L), ("minute", 60L), ("second", 1L))
    var rem = math.abs(total)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, span) <- units) {
      val n = rem / span
      if (n > 0 || (span == 1L && parts.isEmpty)) {
        parts += s"$n $name" + (if (n == 1) "" else "s")
        rem -= n * span
      }
    }
    val sign = if (total < 0) "-" else ""
    sign + (if (parts.size == 1) parts.head
            else parts.init.mkString(", ") + " and " + parts.last)
  }

  /** Little-endian unsigned read of the first `w` bytes (zero-padded). */
  private def leRead(b: Array[Byte], w: Int): Long = {
    var v = 0L
    var i = math.min(w, b.length) - 1
    while (i >= 0) { v = (v << 8) | (b(i) & 0xffL); i -= 1 }
    v
  }

  /** Names a second registration may DELIBERATELY replace, each with
    * its justification. Kept empty on purpose: two silent-clobber
    * incidents in two rounds (LpNorm/deltaSumTimestamp clobbered by
    * wave-22 spellings; the Array[Byte] reinterpretAsUInt64 clobbered
    * by a String overload) were both bugs, not overrides. Add a
    * lowercase name + reason here only when a replacement is the
    * intended behavior.
    */
  private val deliberateOverrides: Map[String, String] = Map.empty

  def register(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry

    // ---- registration-collision guard --------------------------------
    // With ~350 names registered in one pass, a duplicate is a bug
    // until proven deliberate: createOrReplaceTempFunction replaces
    // silently, so the LAST registration wins and the first one's
    // semantics vanish without a test failing. Every path below
    // (builtin alias, reg, macroFn[N], spark.udf.register via
    // gd(...)) records its name; a second sighting in the same pass
    // throws AT INIT TIME — where every spec and the probe battery
    // trips it — unless allowlisted in deliberateOverrides.
    val seenReg = new java.util.HashMap[String, String]()
    val dupSightings = scala.collection.mutable.ListBuffer.empty[String]
    def guard(name: String, origin: String): Unit = {
      val key = name.toLowerCase(java.util.Locale.ROOT)
      val prev = seenReg.put(key, origin)
      if (prev != null && !deliberateOverrides.contains(key))
        // Collect and throw ONCE at the end of register() so a single
        // failed init reports EVERY collision (r11 shipped with one
        // throw-on-first guard and a chain of 14 hidden behind it).
        dupSightings += s"'$name' ($prev, then $origin)"
    }
    def guardReport(): Unit =
      if (dupSightings.nonEmpty)
        throw new IllegalStateException(
          s"ChDialect: ${dupSightings.size} duplicate registration(s) — " +
            "silent clobbers. Dedupe each, or allowlist in " +
            s"deliberateOverrides with a justification:\n  " +
            dupSightings.mkString("\n  "))
    def gd(name: String): String = { guard(name, "udf"); name }

    builtinAliases.foreach { case (chName, sparkName) =>
      // Fail fast on a typo'd Spark name — a silently-skipped alias
      // would surface much later as "undefined function" at query time.
      val b = FunctionRegistry.builtin
        .lookupFunctionBuilder(FunctionIdentifier(sparkName))
        .getOrElse(throw new IllegalStateException(
          s"ChDialect: no Spark builtin '$sparkName' for CH alias '$chName'"))
      guard(chName, "builtin-alias")
      fr.createOrReplaceTempFunction(chName, b, "built-in")
    }

    def reg(name: String)(b: Seq[Expression] => Expression): Unit = {
      guard(name, "reg")
      fr.createOrReplaceTempFunction(name, b, "built-in")
    }

    // special math with no Spark builtin — scalar UDFs (never in a
    // per-row hot loop here; a codegen Expression would be the next
    // step if profiling ever says so)
    spark.udf.register(gd("erf"), (x: Double) => erfImpl(x))
    spark.udf.register(gd("erfc"), (x: Double) => 1.0 - erfImpl(x))
    spark.udf.register(gd("lgamma"), (x: Double) => lgammaImpl(x))
    spark.udf.register(gd("tgamma"), (x: Double) => tgammaImpl(x))
    spark.udf.register(gd("jaroWinklerSimilarity"),
      (a: String, b: String) => jaroWinkler(a, b))
    // A/B-test planners (CH keeps the "Continous" typo; register the
    // corrected spelling too). Tuple return mirrors CH's
    // (size, lower, upper).
    spark.udf.register(gd("minSampleSizeContinous"), minSampleContinuous _)
    spark.udf.register(gd("minSampleSizeContinuous"), minSampleContinuous _)
    spark.udf.register(gd("minSampleSizeConversion"), minSampleConversion _)
    spark.udf.register(gd("formatReadableTimeDelta"),
      (s: Double) => readableTimeDelta(s))
    // reinterpretAs*: little-endian fixed-width reads of the leading
    // bytes (CH's reinterpret family on binary input)
    spark.udf.register(gd("reinterpretAsUInt8"),
      (b: Array[Byte]) => if (b.isEmpty) 0L else b(0) & 0xffL)
    spark.udf.register(gd("reinterpretAsUInt16"), (b: Array[Byte]) => leRead(b, 2))
    spark.udf.register(gd("reinterpretAsUInt32"), (b: Array[Byte]) => leRead(b, 4))
    spark.udf.register(gd("reinterpretAsUInt64"), (b: Array[Byte]) => leRead(b, 8))
    // Int64 shares the 8-byte LE read (same 64-bit pattern); shorter
    // inputs zero-pad, so the sign bit only sets with all 8 bytes.
    spark.udf.register(gd("reinterpretAsInt64"), (b: Array[Byte]) => leRead(b, 8))

    // compositions (codegen'd Catalyst trees)
    reg("toStartOfDay")(c => TruncTimestamp(Literal("DAY"), c.head))
    reg("toStartOfHour")(c => TruncTimestamp(Literal("HOUR"), c.head))
    reg("toStartOfMonth")(c => TruncDate(Cast(c.head, DateType), Literal("MONTH")))
    // ClickHouse toStartOfWeek(d[, mode]): mode defaults to 0 = week
    // starts SUNDAY; odd modes start Monday, even modes Sunday (the
    // first-day bit of CH's 0–9 week-mode table). Spark's trunc(WEEK)
    // is Monday, so Sunday-start is day-of-week arithmetic instead.
    reg("toStartOfWeek") { c =>
      val mode: Int = c.drop(1).headOption match {
        case None => 0
        case Some(e) if e.foldable =>
          val m = e.eval().asInstanceOf[Number].intValue()
          require(m >= 0 && m <= 9, s"toStartOfWeek mode must be 0..9, got $m")
          m
        case Some(e) => throw new IllegalArgumentException(
          s"toStartOfWeek requires a literal mode (got ${e.sql})")
      }
      val d = Cast(c.head, DateType)
      if (mode % 2 == 1) TruncDate(d, Literal("WEEK"))
      else DateSub(d, Subtract(DayOfWeek(d), Literal(1)))
    }
    reg("toStartOfYear")(c => TruncDate(Cast(c.head, DateType), Literal("YEAR")))
    reg("toStartOfQuarter")(c => TruncDate(Cast(c.head, DateType), Literal("QUARTER")))
    reg("toYear")(c => Year(Cast(c.head, DateType)))
    reg("toQuarter")(c => Quarter(Cast(c.head, DateType)))
    reg("toMonth")(c => Month(Cast(c.head, DateType)))
    reg("toDayOfMonth")(c => DayOfMonth(Cast(c.head, DateType)))
    // ClickHouse numbering: Monday = 1 … Sunday = 7 (ISO), unlike
    // Spark's dayofweek (Sunday = 1) — weekday() is the 0-based ISO
    // form, so +1 matches CH exactly
    reg("toDayOfWeek")(c => Add(WeekDay(Cast(c.head, DateType)), Literal(1)))
    reg("toHour")(c => Hour(c.head))
    reg("toMinute")(c => Minute(c.head))
    reg("toSecond")(c => Second(c.head))
    reg("toYYYYMM")(c =>
      Cast(DateFormatClass(Cast(c.head, DateType), Literal("yyyyMM")), IntegerType))
    reg("toYYYYMMDD")(c =>
      Cast(DateFormatClass(Cast(c.head, DateType), Literal("yyyyMMdd")), IntegerType))
    reg("toDayOfYear")(c => DayOfYear(Cast(c.head, DateType)))
    // Spark's weekofyear IS the ISO week number
    reg("toLastDayOfMonth")(c => LastDay(Cast(c.head, DateType)))

    // add/subtract date arithmetic. DATE granularity (inputs are cast
    // to DATE, like the toStartOf* family) — CH's DateTime overloads
    // keep time-of-day, which this mapping intentionally does not.
    reg("addDays")(c => DateAdd(Cast(c.head, DateType), c(1)))
    reg("subtractDays")(c => DateSub(Cast(c.head, DateType), c(1)))
    reg("addWeeks")(c => DateAdd(Cast(c.head, DateType), Multiply(c(1), Literal(7))))
    reg("subtractWeeks")(c => DateSub(Cast(c.head, DateType), Multiply(c(1), Literal(7))))
    reg("addMonths")(c => AddMonths(Cast(c.head, DateType), c(1)))
    reg("subtractMonths")(c => AddMonths(Cast(c.head, DateType), UnaryMinus(c(1))))
    reg("addYears")(c => AddMonths(Cast(c.head, DateType), Multiply(c(1), Literal(12))))
    reg("subtractYears")(c =>
      AddMonths(Cast(c.head, DateType), Multiply(UnaryMinus(c(1)), Literal(12))))
    reg("addQuarters")(c => AddMonths(Cast(c.head, DateType), Multiply(c(1), Literal(3))))
    reg("subtractQuarters")(c =>
      AddMonths(Cast(c.head, DateType), Multiply(UnaryMinus(c(1)), Literal(3))))

    // chDateDiff('unit', start, end) — ClickHouse dateDiff with its
    // BOUNDARY-CROSSING semantics (both ends truncate to the unit,
    // then diff), which is NOT Spark timestampdiff's complete-units
    // count: CH dateDiff('day', '…23:00', next-day '…01:00') = 1,
    // timestampdiff = 0. Registered under chDateDiff because Spark's
    // PARSER owns the name datediff (3-arg form → timestampdiff,
    // quoted units rejected pre-resolution); Graft.sql rewrites the CH
    // spelling to this name. 'week' is intentionally unsupported (CH
    // counts Sunday boundaries via toRelativeWeekNum — a drift trap).
    reg("chDateDiff") { c =>
      // CH also has a 4-arg form with a trailing timezone; silently
      // dropping it would change results, so fail loudly like 'week'.
      require(c.size == 3,
        s"chDateDiff takes exactly ('unit', start, end) — got ${c.size} args" +
          " (the timezone form is unsupported)")
      val unit = c.head match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
          s.toString.toLowerCase(java.util.Locale.ROOT)
        case e => throw new IllegalArgumentException(
          s"chDateDiff requires a literal unit (got ${e.sql})")
      }
      val (a, b) = (c(1), c(2))
      def day(e: Expression) = Cast(e, DateType)
      def secs(e: Expression) =
        Cast(UnixTimestamp(e, Literal("yyyy-MM-dd HH:mm:ss")), LongType)
      // truncate to the unit first; the truncated diff divides exactly
      def truncDiff(fmt: String, divisor: Long) =
        Cast(Divide(
          Cast(Subtract(secs(TruncTimestamp(Literal(fmt), b)),
            secs(TruncTimestamp(Literal(fmt), a))), DoubleType),
          Literal(divisor.toDouble)), LongType)
      def months(e: Expression) =
        Add(Multiply(Year(day(e)), Literal(12)), Month(day(e)))
      def quarters(e: Expression) =
        Add(Multiply(Year(day(e)), Literal(4)), Quarter(day(e)))
      unit match {
        case "second" => Subtract(secs(b), secs(a))
        case "minute" => truncDiff("MINUTE", 60L)
        case "hour"   => truncDiff("HOUR", 3600L)
        case "day"    => Cast(DateDiff(day(b), day(a)), LongType)
        case "month"  => Cast(Subtract(months(b), months(a)), LongType)
        case "quarter" => Cast(Subtract(quarters(b), quarters(a)), LongType)
        case "year"   => Cast(Subtract(Year(day(b)), Year(day(a))), LongType)
        case u => throw new IllegalArgumentException(
          s"chDateDiff: unsupported unit '$u' (second/minute/hour/day/month/quarter/year)")
      }
    }

    // formatDateTime(d, '%Y-%m-%d …'): translate the CH/MySQL % codes
    // to a Spark datetime pattern. Conservative subset — codes whose
    // meaning shifted between CH versions (notably %M) are REJECTED
    // rather than silently drifting.
    def mysqlToJavaPattern(fmt: String, fn: String): String = {
      val out = new StringBuilder
      val lit = new StringBuilder
      def flush(): Unit = if (lit.nonEmpty) {
        out.append('\'').append(lit.toString.replace("'", "''")).append('\'')
        lit.setLength(0)
      }
      var i = 0
      while (i < fmt.length) {
        if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
          fmt.charAt(i + 1) match {
            case '%' => lit.append('%')
            case code =>
              val mapped = code match {
                case 'Y' => "yyyy"; case 'y' => "yy"
                case 'm' => "MM";   case 'c' => "M"
                case 'd' => "dd";   case 'j' => "DDD"
                case 'H' => "HH";   case 'I' => "hh"
                case 'i' => "mm";   case 'S' | 's' => "ss"
                case 'p' => "a"
                case 'F' => "yyyy-MM-dd"
                case 'T' => "HH:mm:ss"
                case other => throw new IllegalArgumentException(
                  s"$fn: unsupported code %$other")
              }
              flush(); out.append(mapped)
          }
          i += 2
        } else { lit.append(fmt.charAt(i)); i += 1 }
      }
      flush()
      out.toString
    }
    def litFmt(e: Expression, fn: String): String = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn requires a literal format (got ${other.sql})")
    }
    reg("formatDateTime") { c =>
      DateFormatClass(c(0),
        Literal(mysqlToJavaPattern(litFmt(c(1), "formatDateTime"),
          "formatDateTime")))
    }
    // parseDateTime(s, '%Y-%m-%d …'): the MySQL-style codes parsed
    // back. Seconds resolution like CH. The plain form throws on
    // unparseable input (ANSI UnixTimestamp — matches CH); OrNull
    // pins failOnError=false so garbage yields NULL regardless of
    // the session's spark.sql.ansi.enabled.
    for (pn <- Seq("parseDateTime", "parseDateTimeOrNull"))
      reg(pn) { c =>
        require(c.size == 2, s"$pn(s, format)")
        val fmt = Literal(mysqlToJavaPattern(litFmt(c(1), pn), pn))
        val ux =
          if (pn.endsWith("OrNull")) new UnixTimestamp(c(0), fmt, None, false)
          else UnixTimestamp(c(0), fmt)
        Cast(ux, TimestampType)
      }

    // JSONExtract family: literal key path → get_json_object's $.path.
    // CH accepts INTEGER path elements as 1-based array indices
    // (negative = from the end, -1 last) → JSONPath [i] subscripts.
    def jsonPath(keys: Seq[Expression], fn: String): Expression = {
      require(keys.nonEmpty, s"$fn needs at least one key")
      val parts = keys.map {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
          "." + s.toString
        case Literal(i: Int, _) => s"[${if (i > 0) i - 1 else i}]"
        case Literal(i: Long, _) => s"[${if (i > 0) i - 1 else i}]"
        case e => throw new IllegalArgumentException(
          s"$fn requires literal keys (got ${e.sql})")
      }
      Literal("$" + parts.mkString)
    }
    reg("JSONExtractString")(c =>
      GetJsonObject(c.head, jsonPath(c.tail, "JSONExtractString")))
    reg("JSONExtractInt")(c =>
      Cast(GetJsonObject(c.head, jsonPath(c.tail, "JSONExtractInt")), LongType))
    reg("JSONExtractFloat")(c =>
      Cast(GetJsonObject(c.head, jsonPath(c.tail, "JSONExtractFloat")),
        org.apache.spark.sql.types.DoubleType))
    reg("JSONHas")(c =>
      IsNotNull(GetJsonObject(c.head, jsonPath(c.tail, "JSONHas"))))
    reg("JSONExtractRaw")(c =>
      GetJsonObject(c.head, jsonPath(c.tail, "JSONExtractRaw")))

    // CH base64Decode returns String (Spark's unbase64 returns binary)
    reg("base64Decode")(c =>
      Cast(UnBase64(c.head), org.apache.spark.sql.types.StringType))

    // Higher-order array spellings, defined as SQL MACROS: the body is
    // parsed on the first call (see createMacro) and the placeholder
    // attribute is substituted with the call's argument tree —
    // everything stays builtin higher-order functions (codegen'd), no
    // UDFs. `element_at(a,1)*0` is the type-preserving zero (0 for int
    // arrays, 0.0 for doubles), and the empty-array guard avoids
    // sequence(1,0)'s DESCENDING range.
    def macroFn(name: String, argNames: Seq[String], body: String): Unit =
      macroFnN(name, argNames -> body)
    macroFn("arrayCumSum", Seq("__a"),
      """CASE WHEN size(__a) = 0 THEN __a ELSE
           transform(sequence(1, size(__a)),
             i -> aggregate(slice(__a, 1, i), element_at(__a, 1) * 0,
                            (acc, x) -> acc + x)) END""")
    // first element maps to the type-preserving zero, like CH
    macroFn("arrayDifference", Seq("__a"),
      """CASE WHEN size(__a) = 0 THEN __a ELSE
           transform(__a, (x, i) ->
             CASE WHEN i = 0 THEN x * 0 ELSE x - element_at(__a, i) END) END""")
    // CH arrayCompact removes CONSECUTIVE duplicates (it is NOT
    // Spark's array_compact, which strips nulls — that name is left
    // unaliased precisely because the semantics differ)
    macroFn("arrayCompact", Seq("__a"),
      "filter(__a, (x, i) -> i = 0 OR NOT (x <=> element_at(__a, i)))")
    // CH's higher-order family puts the LAMBDA FIRST
    // (arrayMap(x -> x*2, arr)); Spark's equivalents take it last.
    // The parser hands the lambda through as an unresolved
    // LambdaFunction in any argument position, so these are pure
    // argument reorders onto the codegen'd builtins.
    reg("arrayMap")(c => ArrayTransform(c(1), c(0)))
    reg("arrayFilter")(c => ArrayFilter(c(1), c(0)))
    reg("arrayExists")(c => ArrayExists(c(1), c(0)))
    reg("arrayAll")(c => ArrayForAll(c(1), c(0)))
    // arrayCount can't be Size(filter(...)): the analyzer requires a
    // builder that RECEIVES lambda arguments to RETURN a higher-order
    // function at the root. ArrayAggregate is that root; the user's
    // lambda body splices into the merge lambda (its own argument
    // variable kept, an accumulator prepended).
    reg("arrayCount") { c =>
      require(c.size == 2, "arrayCount(fn, arr) — the 1-arg form counts " +
        "non-zero elements; spell it arrayCount(x -> x <> 0, arr)")
      val f = c(0) match {
        case l: LambdaFunction => l
        case other => throw new IllegalArgumentException(
          s"arrayCount needs a lambda first (CH argument order), got ${other.sql}")
      }
      val acc = org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable(Seq("__acc"))
      val idv = org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable(Seq("__id"))
      ArrayAggregate(c(1), Literal(0),
        LambdaFunction(Add(acc, If(f.function, Literal(1), Literal(0))),
          acc +: f.arguments),
        LambdaFunction(idv, Seq(idv)))
    }
    // CH arraySum/arrayAvg: empty arrays yield 0 (not NULL) — the
    // type-preserving zero comes from the guard branch
    // Decimal elements need a special zero: `element_at(a,1)*0` widens
    // to DECIMAL(p+?,s) and every `acc + x` widens again, but Spark's
    // higher-order aggregate REQUIRES the lambda type == zero type.
    // DECIMAL(38, s) is the fixed point under the precision cap, so a
    // decimal array folds with that zero; everything else keeps the
    // type-preserving `*0` zero.
    reg("arraySum") { c0 =>
      require(c0.size == 1 || c0.size == 2, "arraySum([lambda,] arr)")
      // CH's lambda-first form arraySum(f, arr) ≡ arraySum(arrayMap(f,
      // arr)). A builder that RECEIVED a lambda must return a
      // HigherOrderFunction root, so this form folds directly with
      // ArrayAggregate (try_element_at+coalesce supplies the typed
      // zero on empty input instead of the 1-arg form's CASE guard).
      if (c0.size == 2) {
        val mapped = ArrayTransform(c0(1), c0.head match {
          case l: LambdaFunction => l
          case other => throw new IllegalArgumentException(
            s"arraySum: first of two arguments must be a lambda, got $other")
        })
        // the analyzer requires a CONCRETE HigherOrderFunction root
        // from a builder that received a lambda — ArrayAggregate, not
        // a parsed (still-unresolved) aggregate(…) call
        val zero = spark.sessionState.sqlParser.parseExpression(
          "coalesce(try_element_at(__m, 1) * 0, 0)").transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if ua.name == "__m" => mapped
        }
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
        val xv = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
        ArrayAggregate(mapped, zero,
          LambdaFunction(Add(acc, xv), Seq(acc, xv)),
          LambdaFunction(fin, Seq(fin)))
      } else {
        val c = c0
        val body = scala.util.Try(c.head.dataType).toOption match {
          case Some(org.apache.spark.sql.types.ArrayType(
              d: org.apache.spark.sql.types.DecimalType, _)) =>
            s"""CASE WHEN size(__a) = 0 THEN CAST(0 AS DECIMAL(38, ${d.scale}))
                     ELSE aggregate(__a, CAST(0 AS DECIMAL(38, ${d.scale})),
                                    (acc, x) -> acc + x) END"""
          case _ =>
            """CASE WHEN size(__a) = 0 THEN 0
                    ELSE aggregate(__a, element_at(__a, 1) * 0,
                                   (acc, x) -> acc + x) END"""
        }
        spark.sessionState.sqlParser.parseExpression(body).transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if ua.name == "__a" => c.head
          case lv: UnresolvedNamedLambdaVariable
              if lv.nameParts == Seq("__a") => c.head
        }
      }
    }
    macroFn("arrayAvg", Seq("__a"),
      """CASE WHEN size(__a) = 0 THEN 0.0
              ELSE aggregate(__a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
                   / size(__a) END""")
    macroFn("countEqual", Seq("__a", "__x"),
      "size(filter(__a, v -> v <=> __x))")
    // hasAll = subset test (dedup-insensitive, like CH)
    macroFn("hasAll", Seq("__a", "__b"),
      "size(array_except(__b, __a)) = 0")
    macroFn("arrayEnumerate", Seq("__a"),
      "CASE WHEN size(__a) = 0 THEN CAST(array() AS ARRAY<INT>) " +
        "ELSE CAST(sequence(1, size(__a)) AS ARRAY<INT>) END")
    macroFn("arrayPushBack", Seq("__a", "__x"), "concat(__a, array(__x))")
    macroFn("arrayPushFront", Seq("__a", "__x"), "concat(array(__x), __a)")
    macroFn("arrayPopBack", Seq("__a"), "slice(__a, 1, greatest(size(__a) - 1, 0))")
    macroFn("arrayPopFront", Seq("__a"),
      "CASE WHEN size(__a) <= 1 THEN slice(__a, 1, 0) ELSE slice(__a, 2, size(__a) - 1) END")
    // CH arithmetic-as-function spellings
    macroFn("plus", Seq("__a", "__b"), "__a + __b")
    macroFn("minus", Seq("__a", "__b"), "__a - __b")
    macroFn("multiply", Seq("__a", "__b"), "__a * __b")
    // CH divide() ALWAYS yields Float64, with IEEE inf/nan on a zero
    // divisor (Spark's ANSI `/` throws there instead — the bare `/`
    // operator is left on Spark semantics; this function spelling is
    // the CH-faithful one)
    macroFn("divide", Seq("__a", "__b"),
      """CASE WHEN CAST(__b AS DOUBLE) = 0.0D THEN
              CASE WHEN CAST(__a AS DOUBLE) > 0.0D THEN CAST('Infinity' AS DOUBLE)
                   WHEN CAST(__a AS DOUBLE) < 0.0D THEN CAST('-Infinity' AS DOUBLE)
                   ELSE CAST('NaN' AS DOUBLE) END
         ELSE CAST(__a AS DOUBLE) / CAST(__b AS DOUBLE) END""")
    macroFn("negate", Seq("__a"), "-__a")
    // (range() is the arity-dispatching macroFnN further down — its
    // 1-arg variant is this same empty-guarded sequence; a 1-arg-only
    // macro that lived here was a guard-flagged shadowed duplicate.)
    // (arrayWithConstant is the macro further down — it CASTs the
    // count to INT, which the bare ArrayRepeat builder that lived
    // here didn't; the collision guard flagged the shadowed builder.)
    // arrayReduce('agg', arr): a literal aggregate name dispatched to
    // the array-space implementations (CH's array aggregation without
    // exploding). Delegation goes through UnresolvedFunction so the
    // dialect's own arraySum/arrayAvg macros are reused.
    reg("arrayReduce") { c =>
      val fname = c.head match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
          s.toString.toLowerCase(java.util.Locale.ROOT)
        case e => throw new IllegalArgumentException(
          s"arrayReduce needs a literal aggregate name, got ${e.sql}")
      }
      def fn(n: String, args: Expression*): Expression =
        org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          Seq(n), args.toSeq, isDistinct = false)
      fname match {
        case "sum" => fn("arraySum", c(1))
        case "min" => fn("array_min", c(1))
        case "max" => fn("array_max", c(1))
        case "avg" => fn("arrayAvg", c(1))
        case "count" => fn("size", c(1))
        case "uniqexact" | "uniq" => fn("size", fn("array_distinct", c(1)))
        case other => throw new IllegalArgumentException(
          s"arrayReduce: unsupported aggregate '$other' " +
            "(sum/min/max/avg/count/uniqExact)")
      }
    }
    // URL family over parse_url (CH names; HOST/PATH/QUERY/REF parts)
    macroFn("domain", Seq("__u"), "parse_url(__u, 'HOST')")
    macroFn("path", Seq("__u"), "parse_url(__u, 'PATH')")
    macroFn("queryString", Seq("__u"), "parse_url(__u, 'QUERY')")
    macroFn("fragment", Seq("__u"), "parse_url(__u, 'REF')")
    macroFn("topLevelDomain", Seq("__u"),
      "element_at(split(parse_url(__u, 'HOST'), '\\\\.'), -1)")
    macroFn("cutQueryString", Seq("__u"),
      "regexp_replace(__u, '\\\\?.*$', '')")
    // dashboard display helpers (CH's console charting family)
    macroFn("bar", Seq("__x", "__lo", "__hi", "__w"),
      "repeat('█', greatest(0, CAST(round((__x - __lo) / (__hi - __lo) * __w, 0) AS INT)))")
    // dialect sweep batch: split/search/array/bit/time spellings
    reg("splitByRegexp")(c => { // CH order: (pattern, s)
      require(c.size == 2, "splitByRegexp(pattern, s)")
      StringSplit(c(1), c(0), Literal(-1))
    })
    // CH tokenizes on non-alphanumeric ASCII boundaries for hasToken —
    // non-ASCII bytes are TOKEN bytes, so 'naïve' is one token (the
    // separator class is [\x00-\x2F\x3A-\x40\x5B-\x60\x7B-\x7F], i.e.
    // ASCII minus [A-Za-z0-9]; a class like [^A-Za-z0-9] would wrongly
    // split on every non-ASCII character)
    macroFn("hasToken", Seq("__h", "__t"),
      """array_contains(
           split(__h, '[\\x00-\\x2F\\x3A-\\x40\\x5B-\\x60\\x7B-\\x7F]+'), __t)""")
    macroFn("multiSearchAllPositions", Seq("__h", "__ns"),
      "transform(__ns, n -> instr(__h, n))")
    macroFn("timeDiff", Seq("__a", "__b"),
      """unix_seconds(CAST(__b AS TIMESTAMP)) -
         unix_seconds(CAST(__a AS TIMESTAMP))""")
    // 2-arg form pads with the numeric type default (element_at*0,
    // CH's default-value contract; strings need the explicit filler).
    // try_element_at + coalesce: an EMPTY input array has no element
    // to derive the zero from — plain element_at threw under ANSI;
    // coalesce falls back to literal 0 (coerced to the element type)
    macroFnN("arrayResize",
      Seq("__a", "__n") ->
        """CASE WHEN __n <= size(__a) THEN slice(__a, 1, __n)
                ELSE concat(__a,
                  array_repeat(coalesce(try_element_at(__a, 1) * 0, 0),
                               __n - size(__a))) END""",
      Seq("__a", "__n", "__f") ->
        """CASE WHEN __n <= size(__a) THEN slice(__a, 1, __n)
                ELSE concat(__a, array_repeat(__f, __n - size(__a))) END""")
    // empty-array guard: pmod(n, 0) is NULL, which would turn [] into
    // NULL — CH returns [] for rotates of an empty array
    macroFn("arrayRotateLeft", Seq("__a", "__n"),
      """CASE WHEN size(__a) = 0 THEN __a ELSE
           concat(slice(__a, pmod(__n, size(__a)) + 1,
                        size(__a) - pmod(__n, size(__a))),
                  slice(__a, 1, pmod(__n, size(__a)))) END""")
    // ns input truncates to the µs the engine can carry (CH's own
    // DateTime64(6) cast behavior)
    macroFn("fromUnixTimestamp64Nano", Seq("__n"),
      "timestamp_micros(CAST(__n DIV 1000 AS BIGINT))")
    // subsequence match ignoring case (the UTF8 spellings are
    // identical here — the engine's strings are already char-wise)
    macroFn("hasSubsequenceCaseInsensitive", Seq("__h", "__n"),
      "hasSubsequence(lower(__h), lower(__n))")
    macroFn("hasSubsequenceUTF8", Seq("__h", "__n"),
      "hasSubsequence(__h, __n)")
    macroFn("hasSubsequenceCaseInsensitiveUTF8", Seq("__h", "__n"),
      "hasSubsequence(lower(__h), lower(__n))")
    // rotate right by n = rotate left by size−(n mod size); same
    // empty-array guard as arrayRotateLeft (CH: [] in, [] out)
    macroFn("arrayRotateRight", Seq("__a", "__n"),
      """CASE WHEN size(__a) = 0 THEN __a ELSE
           concat(slice(__a, size(__a) - pmod(__n, size(__a)) + 1,
                        pmod(__n, size(__a))),
                  slice(__a, 1, size(__a) - pmod(__n, size(__a)))) END""")
    // k > size would hit sequence(1, negative) = a DESCENDING sequence
    // in Spark — guard to the empty nested array instead ([] of the
    // right array<array<T>> type via slice of a 1-element wrap).
    // k <= 0 is a bad argument in CH (shingle length must be positive);
    // refuse loudly rather than emitting size+1 empty shingles.
    macroFn("arrayShingles", Seq("__a", "__k"),
      """CASE WHEN __k <= 0 THEN
           raise_error(concat('arrayShingles: shingle length must be a ',
                              'positive integer, got ', CAST(__k AS STRING)))
         WHEN size(__a) < __k THEN slice(array(__a), 1, 0)
         ELSE transform(sequence(1, size(__a) - __k + 1),
                        i -> slice(__a, i, __k)) END""")
    macroFn("bitHammingDistance", Seq("__a", "__b"),
      "bit_count(__a ^ __b)")
    macroFn("currentDatabase", Seq(), "'default'")
    macroFn("hostName", Seq(), "'localhost'")
    // display_name defaults to the hostname when unset — single-JVM
    // engine, same constant as hostName
    macroFn("displayName", Seq(), "'localhost'")
    // byteSize: CH's in-memory value size. Type-dispatched at analysis
    // time — fixed-width scalars fold to their width, String is
    // length + 9 (CH's size-prefix accounting); complex types refuse
    // loudly instead of guessing CH's offsets+nulls layout.
    reg("byteSize") { c =>
      require(c.size == 1, "byteSize(x)")
      val e = c.head
      def w(n: Int): Expression = Literal(n.toLong)
      e.dataType match {
        case BooleanType | org.apache.spark.sql.types.ByteType => w(1)
        case org.apache.spark.sql.types.ShortType => w(2)
        case IntegerType | org.apache.spark.sql.types.FloatType => w(4)
        case LongType | DoubleType => w(8)
        case DateType => w(2) // CH Date = UInt16 days
        case TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => w(8) // DateTime64
        case d: DecimalType =>
          w(if (d.precision <= 9) 4 else if (d.precision <= 18) 8 else 16)
        // BYTE length (OctetLength), not character count — CH byteSize
        // of a String is utf8-byte payload + 9 bytes of header.
        case StringType => Add(Cast(OctetLength(e), LongType), Literal(9L))
        case other => throw new IllegalArgumentException(
          s"byteSize: unsupported type ${other.simpleString} — fixed-width " +
            "scalars and String carry CH in-memory sizes; complex-type " +
            "layouts (offsets + null maps) are engine-internal")
      }
    }
    macroFn("formatReadableDecimalSize", Seq("__b"),
      """CASE WHEN __b >= 1000000000 THEN concat(round(__b / 1000000000.0, 2), ' GB')
              WHEN __b >= 1000000 THEN concat(round(__b / 1000000.0, 2), ' MB')
              WHEN __b >= 1000 THEN concat(round(__b / 1000.0, 2), ' KB')
              ELSE concat(CAST(CAST(__b AS BIGINT) AS STRING), ' B') END""")
    macroFn("formatReadableSize", Seq("__b"),
      """CASE WHEN __b >= 1073741824 THEN concat(round(__b / 1073741824.0, 2), ' GiB')
              WHEN __b >= 1048576 THEN concat(round(__b / 1048576.0, 2), ' MiB')
              WHEN __b >= 1024 THEN concat(round(__b / 1024.0, 2), ' KiB')
              ELSE concat(CAST(CAST(__b AS BIGINT) AS STRING), ' B') END""")
    macroFn("formatReadableQuantity", Seq("__q"),
      """CASE WHEN __q >= 1000000000 THEN concat(round(__q / 1000000000.0, 2), ' billion')
              WHEN __q >= 1000000 THEN concat(round(__q / 1000000.0, 2), ' million')
              WHEN __q >= 1000 THEN concat(round(__q / 1000.0, 2), ' thousand')
              ELSE CAST(CAST(__q AS BIGINT) AS STRING) END""")
    // sumCount(x) → (sum, count) tuple — the mergeable avg state
    macroFn("sumCount", Seq("__x"), "struct(sum(__x) AS sum, count(__x) AS count)")
    // text processing: alnum tokenizer + character n-grams
    macroFn("tokens", Seq("__s"),
      "filter(split(__s, '[^a-zA-Z0-9]+'), x -> x != '')")
    macroFn("ngrams", Seq("__s", "__n"),
      "CASE WHEN length(__s) < __n THEN CAST(array() AS ARRAY<STRING>) " +
        "ELSE transform(sequence(1, length(__s) - __n + 1), " +
        "i -> substring(__s, i, __n)) END")
    // sub-hour truncations (toStartOfHour/Day/… live above)
    reg("toStartOfMinute")(c => TruncTimestamp(Literal("MINUTE"), c.head))
    macroFn("toStartOfFiveMinutes", Seq("__t"),
      "timestamp_seconds(floor(unix_seconds(CAST(__t AS TIMESTAMP)) / 300) * 300)")
    macroFn("toStartOfTenMinutes", Seq("__t"),
      "timestamp_seconds(floor(unix_seconds(CAST(__t AS TIMESTAMP)) / 600) * 600)")
    macroFn("toStartOfFifteenMinutes", Seq("__t"),
      "timestamp_seconds(floor(unix_seconds(CAST(__t AS TIMESTAMP)) / 900) * 900)")
    macroFn("yesterday", Seq(),
      "date_add(current_date(), -1)")
    // CH parse-or-default cast family: OrNull = try_cast, OrZero
    // falls back to the type's zero (CH's non-Nullable default)
    for ((ch, sp) <- Seq("Int8" -> "tinyint", "Int16" -> "smallint",
        "Int32" -> "int", "Int64" -> "bigint", "UInt8" -> "smallint",
        "UInt16" -> "int", "UInt32" -> "bigint", "UInt64" -> "bigint",
        "Float32" -> "float", "Float64" -> "double")) {
      macroFn(s"to${ch}OrNull", Seq("__x"), s"try_cast(__x AS $sp)")
      macroFn(s"to${ch}OrZero", Seq("__x"),
        s"coalesce(try_cast(__x AS $sp), cast(0 AS $sp))")
    }
    macroFn("toDateOrNull", Seq("__x"), "try_cast(__x AS DATE)")
    macroFn("toDateTimeOrNull", Seq("__x"), "try_cast(__x AS TIMESTAMP)")
    // zero-divisor-safe arithmetic (CH's OrZero family)
    macroFn("intDivOrZero", Seq("__a", "__b"),
      "CASE WHEN __b = 0 THEN 0 ELSE __a DIV __b END")
    macroFn("moduloOrZero", Seq("__a", "__b"),
      "CASE WHEN __b = 0 THEN 0 ELSE __a % __b END")
    // IPv4 family (CH functions/ip-address-functions): dotted-quad
    // shifts/masks on a BIGINT address — all builtin codegen'd ops
    macroFn("IPv4NumToString", Seq("__n"),
      """concat_ws('.', CAST(shiftright(__n, 24) & 255 AS STRING),
                        CAST(shiftright(__n, 16) & 255 AS STRING),
                        CAST(shiftright(__n,  8) & 255 AS STRING),
                        CAST(__n & 255 AS STRING))""")
    macroFn("IPv4StringToNum", Seq("__s"),
      """CAST(element_at(split(__s, '\\.'), 1) AS BIGINT) * 16777216 +
         CAST(element_at(split(__s, '\\.'), 2) AS BIGINT) * 65536 +
         CAST(element_at(split(__s, '\\.'), 3) AS BIGINT) * 256 +
         CAST(element_at(split(__s, '\\.'), 4) AS BIGINT)""")
    // try_cast: octet check must not throw under ANSI on non-numeric
    // fragments (the RLIKE guard is not evaluation-ordered before it)
    macroFn("isIPv4String", Seq("__s"),
      """__s RLIKE '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$' AND
         forall(split(__s, '\\.'), x -> try_cast(x AS INT) <= 255)""")
    // toIPv4 family: the IPv4 TYPE is the numeric address here, so
    // the constructor IS the string→num parse; OrZero/OrNull guard
    // through the validity check instead of try/catch
    reg("emptyArrayToSingle")(c => EmptyArrayToSingle(c.head))
    macroFn("toIPv4", Seq("__s"), "IPv4StringToNum(__s)")
    macroFn("toIPv4OrZero", Seq("__s"),
      "CASE WHEN isIPv4String(__s) THEN IPv4StringToNum(__s) ELSE CAST(0 AS BIGINT) END")
    macroFn("toIPv4OrNull", Seq("__s"),
      "CASE WHEN isIPv4String(__s) THEN IPv4StringToNum(__s) END")
    // (toIPv6 already registered as a UDF in the IPv6 block below)
    // CIDR range as a (lo, hi) string struct — CH returns the tuple
    macroFn("IPv4CIDRToRange", Seq("__n", "__bits"),
      """named_struct(
           'lo', IPv4NumToString(__n & (4294967295 - (shiftleft(1, 32 - __bits) - 1))),
           'hi', IPv4NumToString(__n | (shiftleft(1, 32 - __bits) - 1)))""")
    // arrayStringConcat(arr[, sep]) — CH defaults sep to ''
    reg("arrayStringConcat")(c =>
      ArrayJoin(c.head, if (c.size > 1) c(1) else Literal(""), None))

    // -If combinator for any_value (ignoreNulls = true, so rows
    // failing the condition — which become NULL — are skipped)
    reg("anyIf")(c =>
      org.apache.spark.sql.catalyst.expressions.aggregate.AnyValue(
        CaseWhen(Seq((c(1), c(0))), None), true))
    // polymorphic like CH: strings (bytes), binary, arrays, maps
    reg("empty")(c => EqualTo(PolySize(c.head), Literal(0)))
    reg("notEmpty")(c => GreaterThan(PolySize(c.head), Literal(0)))
    reg("arrayUniq")(c => Size(ArrayDistinct(c.head)))
    // CH position(haystack, needle[, start]) — Spark's builtin
    // `position` takes (needle, haystack): ChSql renames the call
    // site to this collision-free spelling so verbatim CH text gets
    // CH argument order without shadowing the Spark builtin.
    reg("chPosition")(c => {
      require(c.size == 2 || c.size == 3,
        "position(haystack, needle[, start])")
      StringLocate(c(1), c(0), if (c.size == 3) c(2) else Literal(1))
    })
    // CH's block-order-dependent running functions have no sound
    // distributed equivalent (their value depends on physical row
    // order within a processing block — nondeterministic on any
    // multi-partition engine, including upstream CH with
    // max_threads > 1). Fail loudly toward the deterministic window
    // spelling instead of silently picking an order.
    def blockOrderDependent(name: String, instead: String): Unit =
      reg(name)(_ => throw new IllegalArgumentException(
        s"$name is block-order dependent in ClickHouse (nondeterministic " +
          s"at any parallelism); write the explicit window instead: $instead"))
    blockOrderDependent("runningDifference",
      "x - lag(x, 1, x) OVER (ORDER BY …)")
    blockOrderDependent("runningDifferenceStartingWithFirstValue",
      "x - lag(x, 1, first_value(x) OVER w) OVER w")
    blockOrderDependent("runningAccumulate",
      "sum(x) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)")
    blockOrderDependent("neighbor",
      "lag(x, n) / lead(x, n) OVER (ORDER BY …)")
    // CH nullability adapters: Spark columns are all nullable, so
    // both are identity on the value (assumeNotNull's contract is
    // "trust me", not a runtime check)
    reg("assumeNotNull")(c => c.head)
    reg("toNullable")(c => c.head)
    // CH tupleElement(t, n | 'name') — 1-BASED ordinal or field name.
    // The ordinal form must pick positionally whatever the fields are
    // called, so it compiles straight to GetStructField; the name
    // form resolves like `t.name` would.
    reg("tupleElement")(c => {
      require(c.size == 2, "tupleElement(tuple, index | 'name')")
      c(1) match {
        case Literal(i: Int, IntegerType) => GetStructField(c(0), i - 1)
        case Literal(i: Long, LongType) => GetStructField(c(0), i.toInt - 1)
        case Literal(s, StringType) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
            c(0), Literal(s.toString))
        case other => throw new IllegalArgumentException(
          "tupleElement needs a literal ordinal or field name, got " +
            other.sql)
      }
    })
    // CH splits on LITERAL separators; Spark's split takes a regex, so
    // quote the (foldable) separator — splitByChar('.', s) must split
    // on dots, not on every character. CH argument order: (sep, s).
    def quotedSep(e: Expression, fn: String): Expression = e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
        Literal(java.util.regex.Pattern.quote(s.toString))
      case _ => throw new IllegalArgumentException(
        s"$fn requires a literal separator (got ${e.sql})")
    }
    reg("splitByChar")(c => StringSplit(c(1), quotedSep(c(0), "splitByChar"), Literal(-1)))
    reg("splitByString")(c => StringSplit(c(1), quotedSep(c(0), "splitByString"), Literal(-1)))
    reg("multiIf") { c =>
      // multiIf(c1, v1, c2, v2, …, else)
      require(c.size >= 3 && c.size % 2 == 1,
        s"multiIf expects cond1, val1, …, condN, valN, else (odd arity >= 3); got ${c.size} args")
      val branches = c.dropRight(1).grouped(2).map { case Seq(p, v) => (p, v) }.toSeq
      CaseWhen(branches, Some(c.last))
    }
    // CH's toTimeZone only re-labels the DISPLAY zone — the instant is
    // unchanged [CH docs: sql-reference/functions/date-time-functions
    // #totimezone]. Our representation shifts the wall clock (the
    // session renders UTC) so every display/extraction function agrees
    // with CH; the EPOCH family must therefore look through that shift
    // and read the original instant, making
    // toUnixTimestamp*(toTimeZone(x, tz)) = toUnixTimestamp*(x) —
    // exactly CH. Matches both the unresolved macro expansion and the
    // already-resolved node (analyzer iteration order varies).
    def unwrapTz(e: Expression): Expression = e match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if u.nameParts.length == 1 &&
            u.nameParts.head.equalsIgnoreCase("from_utc_timestamp") &&
            u.arguments.size == 2 => u.arguments.head
      case f: FromUTCTimestamp => f.left
      case _ => e
    }
    reg("toUnixTimestamp")(c => Cast(UnixTimestamp(unwrapTz(c.head), Literal("yyyy-MM-dd HH:mm:ss")), LongType))
    // 24.10 spelling: whole seconds of the 64-bit timestamp (floor
    // division like CH's DateTime64 → seconds read; floor, not
    // truncate, so pre-1970 instants round the same way as CH)
    reg("toUnixTimestamp64Second")(c => Cast(Floor(Divide(
      Cast(UnixMillis(Cast(unwrapTz(c.head), TimestampType)), DoubleType),
      Literal(1000.0d))), LongType))
    reg("toUnixTimestamp64Milli")(c => UnixMillis(Cast(unwrapTz(c.head), TimestampType)))
    reg("toUnixTimestamp64Micro")(c => UnixMicros(Cast(unwrapTz(c.head), TimestampType)))
    // µs is the engine's native precision (Spark TIMESTAMP): the nano
    // spelling scales exactly — sub-µs digits are zero, same as CH
    // reading a DateTime64(6) column at nano precision
    reg("toUnixTimestamp64Nano")(c => Multiply(
      UnixMicros(Cast(unwrapTz(c.head), TimestampType)), Literal(1000L)))

    // -If aggregate combinators: agg only over rows where cond holds.
    // CH argument order (x, cond); a no-else CASE yields NULL for
    // non-matching rows, which every Spark aggregate ignores.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Max, Min, Sum}
    def onlyIf(x: Expression, cond: Expression): Expression =
      CaseWhen(Seq((cond, x)), None)
    reg("sumIf")(c => Sum(onlyIf(c(0), c(1))))
    reg("avgIf")(c => Average(onlyIf(c(0), c(1))))
    reg("minIf")(c => Min(onlyIf(c(0), c(1))))
    reg("maxIf")(c => Max(onlyIf(c(0), c(1))))
    // uniqExact(x…) ≡ count(DISTINCT x…): the distinct flag lives on
    // the AggregateExpression, not in any registry name (multi-arg =
    // distinct TUPLES, like CH)
    reg("uniqExact")(c => Count(c).toAggregateExpression(isDistinct = true))
    // countIf: CH's 1-arg form counts rows where cond holds; the
    // 2-arg form counts non-NULL x where cond holds
    reg("countIf") { c =>
      require(c.size == 1 || c.size == 2, "countIf(cond) or countIf(x, cond)")
      if (c.size == 1)
        Count(Seq(CaseWhen(Seq((
          Coalesce(Seq(Cast(c.head, BooleanType), Literal(false))),
          Literal(1))), None)))
      else Count(Seq(onlyIf(c(0), c(1))))
    }
    // uniq(x…): multi-arg form sketches distinct TUPLES — wrap in a
    // struct before the HLL++ (the 1-arg alias path can't, Spark
    // reads a second argument as the rsd)
    reg("uniq") { c =>
      val child = if (c.size == 1) c.head else CreateStruct(c)
      org.apache.spark.sql.catalyst.expressions.aggregate
        .HyperLogLogPlusPlus(child)
    }
    // CH's bare `count()` — Spark requires an argument. The builder
    // dispatches: zero args → count(1); otherwise exactly the builtin
    // (returning the bare AggregateFunction keeps the analyzer's
    // DISTINCT and count(*) handling intact).
    reg("count")(c => if (c.isEmpty) Count(Seq(Literal(1))) else Count(c))
    // -If combinator on the exact distinct count (CH arg order x, cond)
    reg("uniqExactIf")(c =>
      Count(Seq(onlyIf(c(0), c(1)))).toAggregateExpression(isDistinct = true))
    // corrMatrix/covarSampMatrix(x1 … xk): the full symmetric k×k
    // matrix as Array(Array(Float64)) — one pass, k²/2 distinct
    // moment aggregates (Catalyst dedups the mirrored cells).
    // KnownNullable wrapper: subscripting the matrix spells
    // ElementAt(CreateArray(aggs…), 1), where Spark computes
    // nullable=false (foldable valid index into non-null elements) but
    // ElementAt's codegen template still assigns ev.isNull in its
    // out-of-bounds branch — an UNDECLARED variable in the non-nullable
    // nullSafeCodeGen path, so Janino fails ("isNull_x is not an
    // rvalue") and the stage silently runs interpreted. Constant
    // folding hides the Spark bug for literal arrays; aggregate results
    // aren't foldable, so break the CreateArray pattern-match instead.
    locally {
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Corr, CovSample}
      def matrixOf(pair: (Expression, Expression) => Expression)
          : Seq[Expression] => Expression = { c =>
        require(c.size >= 2, "matrix aggregate needs at least two columns")
        val d = c.map(Cast(_, DoubleType))
        KnownNullable(CreateArray(d.indices.map(i =>
          KnownNullable(CreateArray(d.indices.map(j => pair(d(i), d(j))))))))
      }
      reg("corrMatrix")(matrixOf((a, b) =>
        new Corr(a, b).toAggregateExpression()))
      reg("covarSampMatrix")(matrixOf((a, b) =>
        new CovSample(a, b).toAggregateExpression()))
    }
    // arity-dispatching macro: one CH name, several (argNames, body)
    // templates — picks the variant matching the call's arg count
    def macroFnN(name: String, variants: (Seq[String], String)*): Unit = {
      guard(name, "macro")
      createMacro(spark, name, variants)
    }
    // mapPopulateSeries(keys, vals[, max]): fill integer key gaps from
    // min(keys) to max(keys) (or `max`) with type-zero values — the
    // companion of sumMap's sparse series
    macroFnN("mapPopulateSeries",
      Seq("__mm") ->
        """map_from_arrays(
             sequence(array_min(map_keys(__mm)), array_max(map_keys(__mm))),
             transform(sequence(array_min(map_keys(__mm)),
                                array_max(map_keys(__mm))),
               __i -> coalesce(element_at(__mm, __i),
                               element_at(map_values(__mm), 1) * 0)))""",
      Seq("__k", "__v") ->
        """map_from_arrays(
             sequence(array_min(__k), array_max(__k)),
             transform(sequence(array_min(__k), array_max(__k)),
               __i -> CASE WHEN array_position(__k, __i) > 0
                           THEN element_at(__v, CAST(array_position(__k, __i) AS INT))
                           ELSE element_at(__v, 1) * 0 END))""",
      Seq("__k", "__v", "__m") ->
        """map_from_arrays(
             sequence(array_min(__k), CAST(__m AS BIGINT)),
             transform(sequence(array_min(__k), CAST(__m AS BIGINT)),
               __i -> CASE WHEN array_position(__k, __i) > 0
                           THEN element_at(__v, CAST(array_position(__k, __i) AS INT))
                           ELSE element_at(__v, 1) * 0 END))""")
    // divideDecimal/multiplyDecimal(a, b, result_scale): exact decimal
    // arithmetic at an EXPLICIT result scale, on a native expression
    // (DecimalExactArith — BigDecimal math, result DECIMAL(38, scale)).
    // NOT a round(a/b) macro: Spark's allowPrecisionLoss rule caps the
    // (38,18)/(38,18) quotient's scale at 6, so a macro silently loses
    // precision for any requested scale > 6. The scale-less 2-arg form
    // refuses loudly instead of guessing CH's default-scale rule
    // (close-but-wrong corrupts silently).
    def decimalArith(name: String, divide: Boolean): Unit = reg(name) { c =>
      require(c.size == 3,
        s"$name: pass the explicit result scale — $name(a, b, result_scale)")
      // decimal inputs keep their own (precision, scale) — a blanket
      // (38,18) cast would overflow wide Decimal128 values; only
      // non-decimal numerics get widened
      def asDec(e: Expression): Expression =
        if (e.resolved && e.dataType.isInstanceOf[DecimalType]) e
        else Cast(e, DecimalType(38, 18))
      DecimalExactArith(asDec(c(0)), asDec(c(1)), c(2), divide)
    }
    decimalArith("divideDecimal", divide = true)
    decimalArith("multiplyDecimal", divide = false)
    // timeSlots(start, duration[, size=1800]): the half-hour (or
    // `size`-second) grid slots a [start, start+duration] interval
    // touches — CH's sessionization helper
    macroFnN("timeSlots",
      Seq("__t", "__d") ->
        """transform(
             sequence(CAST(unix_seconds(__t) div 1800 AS BIGINT),
                      CAST((unix_seconds(__t) + CAST(__d AS BIGINT)) div 1800 AS BIGINT)),
             __i -> timestamp_seconds(__i * 1800))""",
      Seq("__t", "__d", "__sz") ->
        """transform(
             sequence(CAST(unix_seconds(__t) div CAST(__sz AS BIGINT) AS BIGINT),
                      CAST((unix_seconds(__t) + CAST(__d AS BIGINT))
                           div CAST(__sz AS BIGINT) AS BIGINT)),
             __i -> timestamp_seconds(__i * CAST(__sz AS BIGINT)))""")
    // byteSwap on the full Int64 width (CH's is typed-width; 64-bit
    // here, documented): byteSwap(1) = 1 << 56
    macroFn("byteSwap", Seq("__x"),
      """aggregate(sequence(0, 7), CAST(0 AS BIGINT),
           (__acc, __i) -> __acc |
             shiftleft(shiftright(CAST(__x AS BIGINT), __i * 8) & 255,
                       (7 - __i) * 8))""")
    macroFn("mapContainsKeyLike", Seq("__m", "__p"),
      "size(filter(map_keys(__m), __k -> __k LIKE __p)) > 0")
    macroFn("mapExtractKeyLike", Seq("__m", "__p"),
      "map_filter(__m, (__k, __v) -> __k LIKE __p)")
    macroFn("dateTrunc", Seq("__u", "__d"), "date_trunc(__u, __d)")
    macroFn("addDate", Seq("__d", "__i"), "__d + __i")
    macroFn("subDate", Seq("__d", "__i"), "__d - __i")
    macroFn("toStartOfMillisecond", Seq("__t"),
      "timestamp_micros((unix_micros(__t) div 1000) * 1000)")
    macroFn("toStartOfMicrosecond", Seq("__t"),
      "timestamp_micros(unix_micros(__t))")
    // emptyArray<T>() constructors + array helpers
    Seq("UInt8" -> "SMALLINT", "UInt16" -> "INT", "UInt32" -> "BIGINT",
      "UInt64" -> "BIGINT", "Int8" -> "TINYINT", "Int16" -> "SMALLINT",
      "Int32" -> "INT", "Int64" -> "BIGINT", "Float32" -> "FLOAT",
      "Float64" -> "DOUBLE", "String" -> "STRING", "Date" -> "DATE",
      "DateTime" -> "TIMESTAMP").foreach { case (ch, sql) =>
      macroFn(s"emptyArray$ch", Seq(), s"CAST(array() AS ARRAY<$sql>)")
    }
    macroFn("arrayWithConstant", Seq("__n", "__x"),
      "array_repeat(__x, CAST(__n AS INT))")
    // CH scalar range(): [0, n) / [a, b) / [a, b) by step — half-open,
    // unlike Spark's inclusive sequence() (the FROM-position range()
    // TVF is untouched: this registers only the scalar name)
    macroFnN("range",
      Seq("__n") ->
        "CASE WHEN CAST(__n AS BIGINT) <= 0 THEN CAST(array() AS ARRAY<BIGINT>) ELSE sequence(CAST(0 AS BIGINT), CAST(__n AS BIGINT) - 1) END",
      Seq("__a", "__b") ->
        "CASE WHEN CAST(__b AS BIGINT) <= CAST(__a AS BIGINT) THEN CAST(array() AS ARRAY<BIGINT>) ELSE sequence(CAST(__a AS BIGINT), CAST(__b AS BIGINT) - 1) END",
      Seq("__a", "__b", "__s") ->
        "CASE WHEN CAST(__b AS BIGINT) <= CAST(__a AS BIGINT) THEN CAST(array() AS ARRAY<BIGINT>) ELSE sequence(CAST(__a AS BIGINT), CAST(__b AS BIGINT) - 1, CAST(__s AS BIGINT)) END")
    // javaHash = String.hashCode — EXACT bit-parity by definition;
    // hiveHash masks the sign bit
    spark.udf.register(gd("javaHash"), (s: String) => if (s == null) 0 else s.hashCode)
    spark.udf.register(gd("hiveHash"),
      (s: String) => if (s == null) 0 else s.hashCode & 0x7fffffff)
    macroFn("countDigits", Seq("__x"),
      "length(CAST(abs(CAST(__x AS BIGINT)) AS STRING))")
    // arrayShuffle(arr[, seed]) / arrayRandomSample(arr, k[, seed]):
    // CH's are RNG-backed; here the permutation is the md5 order of
    // (seed, position) — a uniform-looking DETERMINISTIC shuffle, the
    // only kind that gives identical results at any executor count
    // (seedless calls get seed 0 rather than nondeterminism)
    locally {
      val shuffleBody =
        """transform(array_sort(transform(__a, (__x, __i) ->
             struct(substring(md5(concat(CAST(__s AS STRING), ':', CAST(__i AS STRING))), 1, 16) AS k,
                    __x AS v))), __e -> __e.v)"""
      macroFnN("arrayShuffle",
        Seq("__a") -> shuffleBody.replace("__s", "0"),
        Seq("__a", "__s") -> shuffleBody)
      macroFnN("arrayRandomSample",
        Seq("__a", "__k") ->
          s"slice(${shuffleBody.replace("__s", "0")}, 1, CAST(__k AS INT))",
        Seq("__a", "__k", "__s") ->
          s"slice($shuffleBody, 1, CAST(__k AS INT))")
    }
    // Lp norms/distances with arbitrary p (L1/L2/Linf already exist)
    macroFn("LpNorm", Seq("__a", "__p"),
      """power(aggregate(__a, CAST(0.0 AS DOUBLE),
           (__acc, __x) -> __acc + power(abs(CAST(__x AS DOUBLE)), __p)),
           CAST(1.0 AS DOUBLE) / __p)""")
    macroFn("LpDistance", Seq("__a", "__b", "__p"),
      """power(aggregate(zip_with(__a, __b, (__x, __y) ->
             power(abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)), __p)),
           CAST(0.0 AS DOUBLE), (__acc, __e) -> __acc + __e),
           CAST(1.0 AS DOUBLE) / __p)""")
    // formatRow('Format', x…): render one row in an output format —
    // JSONEachRow keys come from the argument expressions' names
    // (aliases propagate), CSV/TSV are comma/tab-joined with CH's
    // trailing newline on formatRow (none on formatRowNoNewline)
    locally {
      def fmtRow(newline: Boolean): Seq[Expression] => Expression = { c =>
        require(c.size >= 2, "formatRow('Format', x…)")
        val fmt = c.head match {
          case Literal(v, StringType) => v.toString.toLowerCase(java.util.Locale.ROOT)
          case e => throw new IllegalArgumentException(
            s"formatRow needs a literal format name, got ${e.sql}")
        }
        val body = fmt match {
          case "jsoneachrow" | "json" =>
            StructsToJson(Map.empty[String, String], CreateStruct(c.tail))
          case "csv" | "values" =>
            ConcatWs(Literal(",") +: c.tail.map(Cast(_, StringType)))
          case "tsv" | "tabseparated" =>
            ConcatWs(Literal("\t") +: c.tail.map(Cast(_, StringType)))
          case other => throw new IllegalArgumentException(
            s"formatRow: unsupported format '$other' (JSONEachRow/CSV/TSV)")
        }
        if (newline) Concat(Seq(body, Literal("\n"))) else body
      }
      reg("formatRowNoNewline")(fmtRow(newline = false))
    }
    // hasColumnInTable('table', 'col') / ('db', 'table', 'col'):
    // resolved at PLANNING time against the live catalog (both args
    // must be literals), folding to a boolean constant
    reg("hasColumnInTable") { c =>
      require(c.size == 2 || c.size == 3,
        "hasColumnInTable(['db',] 'table', 'column')")
      val lits = c.map {
        case Literal(v, StringType) => v.toString
        case e => throw new IllegalArgumentException(
          s"hasColumnInTable needs literal arguments, got ${e.sql}")
      }
      val colName = lits.last
      // honor the db qualifier in the 3-arg form, and let a missing
      // table THROW (CH errors on a nonexistent table rather than
      // folding the lookup failure into false)
      val qualified =
        if (lits.size == 3) s"${lits(0)}.${lits(1)}" else lits.head
      val schema =
        try spark.table(qualified).schema
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"hasColumnInTable: table '$qualified' does not exist", e)
        }
      Literal(schema.fieldNames.exists(_.equalsIgnoreCase(colName)))
    }
    // indexHint(cond): CH evaluates the INDEX on cond but filters
    // nothing — here partition pruning is Catalyst's own job, so the
    // faithful result contract is constant true (no row filtering)
    // singleValueOrNull: the group's value iff it is unique, else NULL
    macroFn("singleValueOrNull", Seq("__x"),
      "CASE WHEN count(DISTINCT __x) = 1 THEN min(__x) END")
    // groupArrayIntersect: intersection of all array values in the
    // group, sorted for determinism (CH leaves the order unspecified)
    macroFn("groupArrayIntersect", Seq("__a"),
      """CASE WHEN size(collect_list(__a)) = 0 THEN NULL
           ELSE array_sort(aggregate(
             slice(collect_list(__a), 2, size(collect_list(__a)) - 1),
             element_at(collect_list(__a), 1),
             (__acc, __x) -> array_intersect(__acc, __x))) END""")
    // sumKahan: compensated summation — the decimal-lattice sum is
    // order-exact (stronger than Kahan), cast back to Float64
    macroFn("sumKahan", Seq("__x"),
      "CAST(sum(CAST(__x AS DECIMAL(38,6))) AS DOUBLE)")
    // argMin/argMax -If combinators: min_by/max_by skip rows whose
    // ORDERING value is NULL, so masking the ordering column with the
    // condition is exactly the -If contract (CH arg order: x, ord, cond)
    import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
    reg("argMaxIf")(c => MaxBy(c(0), onlyIf(c(1), c(2))))
    reg("argMinIf")(c => MinBy(c(0), onlyIf(c(1), c(2))))

    // haversine meters; ClickHouse argument order (lon1, lat1, lon2, lat2)
    reg("greatCircleDistance") { c =>
      val Seq(lon1, lat1, lon2, lat2) = c.map(e => Cast(e, org.apache.spark.sql.types.DoubleType))
      def rad(e: Expression) = ToRadians(e)
      val dLat = Divide(rad(Subtract(lat2, lat1)), Literal(2.0))
      val dLon = Divide(rad(Subtract(lon2, lon1)), Literal(2.0))
      val h = Add(
        Multiply(Sin(dLat), Sin(dLat)),
        Multiply(Multiply(Cos(rad(lat1)), Cos(rad(lat2))),
          Multiply(Sin(dLon), Sin(dLon))))
      Multiply(Literal(2.0 * 6371000.0), Asin(Sqrt(h)))
    }

    // regex match under the CH name (same (haystack, pattern) order
    // as Spark's rlike; RE2-subset patterns portable between engines)
    reg("match")(c => RLike(c(0), c(1)))

    // bit ops as function spellings (CH functions/bit-functions)
    macroFn("bitAnd", Seq("__a", "__b"), "__a & __b")
    macroFn("bitOr", Seq("__a", "__b"), "__a | __b")
    macroFn("bitXor", Seq("__a", "__b"), "__a ^ __b")
    macroFn("bitNot", Seq("__a"), "~__a")
    macroFn("bitTest", Seq("__a", "__i"),
      "CAST(shiftright(__a, CAST(__i AS INT)) & 1 AS TINYINT)")

    // exponent family; intExp2 via shift for bit-exactness at 2^53+
    macroFn("exp2", Seq("__x"), "power(2.0, __x)")
    macroFn("exp10", Seq("__x"), "power(10.0, __x)")
    macroFn("intExp2", Seq("__x"),
      "shiftleft(CAST(1 AS BIGINT), CAST(__x AS INT))")

    // finiteness predicates (CH functions/other: isFinite & friends)
    macroFn("isFinite", Seq("__x"),
      "NOT isnan(__x) AND abs(__x) <> CAST('Infinity' AS DOUBLE)")
    macroFn("isInfinite", Seq("__x"),
      "abs(__x) = CAST('Infinity' AS DOUBLE)")
    // type plumbing no-ops: Spark columns are already nullable values
    // (assumeNotNull/toNullable are identity reg(...) builders above;
    // identity macros that lived here were guard-flagged duplicates)

    // ---- probe-battery breadth (r7): string/replace/conv/date/
    //      vector/digest/bitmap spellings a CH user types daily ----
    macroFn("notLike", Seq("__s", "__p"), "NOT (__s LIKE __p)")
    // first-occurrence (non-regex) replace
    macroFn("replaceOne", Seq("__s", "__f", "__r"),
      """CASE WHEN locate(__f, __s) > 0 THEN
           concat(substring(__s, 1, locate(__f, __s) - 1), __r,
                  substring(__s, locate(__f, __s) + length(__f)))
         ELSE __s END""")
    // first-match regex replace via regexp_instr + regexp_extract
    // (Java regex both; CH's \1 backrefs are $1 here — documented)
    macroFn("replaceRegexpOne", Seq("__s", "__p", "__r"),
      """CASE WHEN regexp_instr(__s, __p) > 0 THEN
           concat(substring(__s, 1, regexp_instr(__s, __p) - 1), __r,
                  substring(__s, regexp_instr(__s, __p) +
                                 length(regexp_extract(__s, __p, 0))))
         ELSE __s END""")
    macroFn("tryBase64Decode", Seq("__s"),
      "coalesce(CAST(try_to_binary(__s, 'base64') AS STRING), '')")
    // OrDefault conversions (OrNull/OrZero families already exist)
    macroFn("toInt32OrDefault", Seq("__s", "__d"),
      "coalesce(try_cast(__s AS INT), __d)")
    macroFn("toInt64OrDefault", Seq("__s", "__d"),
      "coalesce(try_cast(__s AS BIGINT), __d)")
    macroFn("toFloat64OrDefault", Seq("__s", "__d"),
      "coalesce(try_cast(__s AS DOUBLE), __d)")
    macroFn("toDateOrDefault", Seq("__s", "__d"),
      "coalesce(try_cast(__s AS DATE), __d)")
    // DateTime64(p): Spark timestamps are fixed µs precision — the
    // scale parameter is accepted and the value parsed at full µs
    macroFn("toDateTime64", Seq("__s", "__p"), "to_timestamp(__s)")
    macroFn("intExp10", Seq("__x"),
      "CAST(round(power(10.0, CAST(__x AS DOUBLE))) AS BIGINT)")
    macroFn("hypot", Seq("__x", "__y"),
      "sqrt(CAST(__x AS DOUBLE) * __x + CAST(__y AS DOUBLE) * __y)")
    // halfMD5: first 8 bytes of the MD5, big-endian UInt64 — CH's
    // cheap 64-bit digest; two's-complement BIGINT view (same
    // convention as sipHash64), via conv's signed decimal mode
    macroFn("halfMD5", Seq("__s"),
      "CAST(conv(substring(md5(__s), 1, 16), 16, -10) AS BIGINT)")
    // digests: CH returns raw bytes (users hex() them); Spark's
    // sha1/sha2 return hex strings, so unhex restores CH's contract.
    // MD5 is deliberately NOT wrapped: `md5(` appears in oracle-checked
    // SQL texts (SAMPLE rewriting, generateRandom) that rely on Spark's
    // hex-string builtin, and registry names are case-insensitive — an
    // MD5 macro would shadow every md5( call site. Documented
    // divergence: CH hex(MD5(x)) reads here as upper(md5(x)).
    // registry names are case-insensitive: "SHA1" SHADOWS builtin
    // sha1, so the body must go through the distinct `sha` alias or
    // resolution recurses to max-iterations
    macroFn("SHA1", Seq("__s"), "unhex(sha(__s))")
    // RIPEMD-160 (r19): the JDK ships no provider — native codegen
    // expression transcribed from the published spec, official-vector
    // pinned (RipeMD160Spec). 20 binary bytes like the SHA family.
    reg("ripeMD160")(c => RipeMD160(c.head))
    macroFn("SHA224", Seq("__s"), "unhex(sha2(__s, 224))")
    macroFn("SHA256", Seq("__s"), "unhex(sha2(__s, 256))")
    macroFn("SHA384", Seq("__s"), "unhex(sha2(__s, 384))")
    macroFn("SHA512", Seq("__s"), "unhex(sha2(__s, 512))")
    // UUIDs stay strings (Spark has no UUID type); canonical lowercase
    macroFn("toUUID", Seq("__s"), "lower(__s)")
    macroFn("UUIDStringToNum", Seq("__s"),
      "unhex(replace(lower(__s), '-', ''))")
    // 24.1 spelling over a UUID VALUE (strings here — same bytes);
    // the big-endian default variant only, like UUIDStringToNum
    macroFn("UUIDToNum", Seq("__u"),
      "unhex(replace(lower(__u), '-', ''))")
    // lower(): CH prints UUIDs canonical-lowercase; Spark hex() is
    // uppercase (caught by the r19 UUIDToNum round-trip pin)
    macroFn("UUIDNumToString", Seq("__b"),
      """lower(concat(substring(hex(__b), 1, 8), '-', substring(hex(__b), 9, 4),
                '-', substring(hex(__b), 13, 4), '-',
                substring(hex(__b), 17, 4), '-', substring(hex(__b), 21, 12)))""")
    // 24.8 overlay family (r19). CH's plain overlay is BYTE-indexed
    // (same policy as `length`): splice through BINARY so multibyte
    // strings behave like CH; overlayUTF8 is character-indexed.
    // Positive 1-based offsets (the documented main form); composed
    // from substring/concat — calling the builtin `overlay` by name
    // here would recurse into this macro.
    macroFnN("overlay",
      Seq("__s", "__r", "__o") ->
        """decode(concat(
             substring(CAST(__s AS BINARY), 1, CAST(__o AS INT) - 1),
             CAST(__r AS BINARY),
             substring(CAST(__s AS BINARY),
                       CAST(__o AS INT) + octet_length(__r))), 'UTF-8')""",
      Seq("__s", "__r", "__o", "__l") ->
        """decode(concat(
             substring(CAST(__s AS BINARY), 1, CAST(__o AS INT) - 1),
             CAST(__r AS BINARY),
             substring(CAST(__s AS BINARY),
                       CAST(__o AS INT) + CAST(__l AS INT))), 'UTF-8')""")
    macroFnN("overlayUTF8",
      Seq("__s", "__r", "__o") ->
        """concat(substring(__s, 1, CAST(__o AS INT) - 1), __r,
                  substring(__s, CAST(__o AS INT) + char_length(__r)))""",
      Seq("__s", "__r", "__o", "__l") ->
        """concat(substring(__s, 1, CAST(__o AS INT) - 1), __r,
                  substring(__s, CAST(__o AS INT) + CAST(__l AS INT)))""")
    // vector math over arrays: zip_with + aggregate stay codegen'd.
    // dotProduct also accepts CH's TUPLE vectors — two literal tuples
    // splice into a flat sum-of-products at resolution time.
    reg("dotProduct") { c =>
      require(c.size == 2, "dotProduct(a, b)")
      (c(0), c(1)) match {
        case (a: CreateNamedStruct, b: CreateNamedStruct)
          if a.valExprs.size == b.valExprs.size =>
          a.valExprs.zip(b.valExprs)
            .map { case (x, y) => Multiply(x, y): Expression }
            .reduce(Add(_, _))
        case _ =>
          spark.sessionState.sqlParser.parseExpression(
            """aggregate(zip_with(__da, __db, (x, y) -> CAST(x AS DOUBLE) * y),
                         CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")
            .transformUp {
              case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                  if ua.name == "__da" => c(0)
              case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                  if ua.name == "__db" => c(1)
              case lv: UnresolvedNamedLambdaVariable
                  if lv.nameParts == Seq("__da") => c(0)
              case lv: UnresolvedNamedLambdaVariable
                  if lv.nameParts == Seq("__db") => c(1)
            }
      }
    }
    // NOTE: cast each element to DOUBLE BEFORE subtracting — a float
    // subtraction then cast loses the low bits and lands on rounding
    // boundaries the DuckDB oracle (which subtracts in double) doesn't
    macroFn("L2Distance", Seq("__a", "__b"),
      """sqrt(aggregate(zip_with(__a, __b,
             (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v))""")
    macroFn("L2SquaredDistance", Seq("__a", "__b"),
      """aggregate(zip_with(__a, __b,
             (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")
    macroFn("L1Distance", Seq("__a", "__b"),
      """aggregate(zip_with(__a, __b, (x, y) -> abs(CAST(x AS DOUBLE) - y)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")
    macroFn("LinfDistance", Seq("__a", "__b"),
      "array_max(zip_with(__a, __b, (x, y) -> abs(CAST(x AS DOUBLE) - y)))")
    macroFn("L2Norm", Seq("__a"),
      """sqrt(aggregate(__a, CAST(0 AS DOUBLE),
           (acc, x) -> acc + CAST(x AS DOUBLE) * x))""")
    macroFn("L1Norm", Seq("__a"),
      "aggregate(__a, CAST(0 AS DOUBLE), (acc, x) -> acc + abs(CAST(x AS DOUBLE)))")
    macroFn("LinfNorm", Seq("__a"),
      "array_max(transform(__a, x -> abs(CAST(x AS DOUBLE))))")
    // (LpNorm / LpDistance / deltaSumTimestamp are defined ONCE, later
    // in this file — registering a second copy here would silently
    // replace them with differently-typed variants, which broke
    // sql_ch_w11_batch / sql_ch_quantile_picks once)
    macroFn("L1Normalize", Seq("__a"),
      """transform(__a, __x -> CAST(__x AS DOUBLE) /
           aggregate(__a, CAST(0 AS DOUBLE),
             (acc, x) -> acc + abs(CAST(x AS DOUBLE))))""")
    macroFn("L2Normalize", Seq("__a"),
      """transform(__a, __x -> CAST(__x AS DOUBLE) /
           sqrt(aggregate(__a, CAST(0 AS DOUBLE),
             (acc, x) -> acc + CAST(x AS DOUBLE) * x)))""")
    // (cosineDistance is the codegen CosineSimilarity expression,
    // registered with the other custom expressions below)
    // contiguous-subsequence test (CH hasSubstr on arrays)
    macroFn("hasSubstr", Seq("__a", "__b"),
      """CASE WHEN size(__b) = 0 THEN true
              WHEN size(__b) > size(__a) THEN false
         ELSE exists(sequence(1, size(__a) - size(__b) + 1),
                     i -> slice(__a, i, size(__b)) = __b) END""")
    // roaring-bitmap role: sorted-distinct arrays ARE the bitmap
    // value here (CH's type is opaque; ours is inspectable) — set
    // algebra via array_intersect/union/except, all codegen'd
    macroFn("bitmapBuild", Seq("__a"), "array_sort(array_distinct(__a))")
    macroFn("bitmapToArray", Seq("__b"), "array_sort(__b)")
    macroFn("bitmapCardinality", Seq("__b"), "size(__b)")
    macroFn("bitmapContains", Seq("__b", "__x"), "array_contains(__b, __x)")
    macroFn("bitmapAnd", Seq("__a", "__b"),
      "array_sort(array_intersect(__a, __b))")
    macroFn("bitmapOr", Seq("__a", "__b"), "array_sort(array_union(__a, __b))")
    macroFn("bitmapAndnot", Seq("__a", "__b"),
      "array_sort(array_except(__a, __b))")
    macroFn("bitmapXor", Seq("__a", "__b"),
      """array_sort(array_union(array_except(__a, __b),
                                array_except(__b, __a)))""")
    macroFn("bitmapMin", Seq("__b"), "array_min(__b)")
    macroFn("bitmapMax", Seq("__b"), "array_max(__b)")
    macroFn("bitmapHasAll", Seq("__a", "__b"),
      "size(array_except(__b, __a)) = 0")
    macroFn("bitmapHasAny", Seq("__a", "__b"),
      "size(array_intersect(__a, __b)) > 0")
    // CH range contract: [start, end) on VALUES
    macroFn("bitmapSubsetInRange", Seq("__b", "__lo", "__hi"),
      "array_sort(filter(__b, __x -> __x >= __lo AND __x < __hi))")
    // first `limit` values >= start, ascending
    macroFn("bitmapSubsetLimit", Seq("__b", "__lo", "__n"),
      "slice(array_sort(filter(__b, __x -> __x >= __lo)), 1, CAST(__n AS INT))")
    macroFn("subBitmap", Seq("__b", "__off", "__n"),
      "slice(array_sort(__b), CAST(__off AS INT) + 1, CAST(__n AS INT))")
    macroFn("bitmapAndCardinality", Seq("__a", "__b"),
      "size(array_intersect(__a, __b))")
    macroFn("bitmapOrCardinality", Seq("__a", "__b"),
      "size(array_union(__a, __b))")
    macroFn("bitmapXorCardinality", Seq("__a", "__b"),
      """size(array_union(array_except(__a, __b),
                          array_except(__b, __a)))""")
    macroFn("bitmapAndnotCardinality", Seq("__a", "__b"),
      "size(array_except(__a, __b))")
    // ISO year-week spellings; toYearWeek default mode 0 = MySQL
    // YEARWEEK(d,0): anchor at the week's Sunday so week-0 days
    // resolve into the PREVIOUS year's numbering, like MySQL
    macroFn("toISOYear", Seq("__d"),
      "CAST(extract(YEAROFWEEK FROM CAST(__d AS DATE)) AS INT)")
    // (toRelativeDayNum lives with the rest of the toRelative*Num
    // family below — it was registered HERE too until the collision
    // guard flagged the duplicate)
    // CH WindowView time-window functions [public docs: sql-reference/
    // functions/time-window-functions]: tumble/hop map onto Spark's
    // window() (TimeWindow — the same expression Structured Streaming
    // aggregates on, so these spellings work in both batch SQL and a
    // readStream pipeline). Spark's TimeWindow takes a STRING duration
    // literal, so the INTERVAL literal is rendered to its microsecond
    // string at build time. NOTE arg order: CH hop(t, slide, size) vs
    // Spark window(t, size, slide).
    def ivStr(e: Expression): Expression = e match {
      case Literal(micros: Long, _: org.apache.spark.sql.types.DayTimeIntervalType) =>
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
          s"$micros microseconds"), StringType)
      case Literal(s, _: StringType) => e
      case _ => throw new IllegalArgumentException(
        "tumble/hop take a day-time INTERVAL literal (months vary in " +
          "length — a fixed window cannot use them)")
    }
    def winFn(t: Expression, durations: Expression*): Expression =
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq("window"), Cast(t, TimestampType) +: durations.map(ivStr),
        isDistinct = false)
    def winField(w: Expression, f: String): Expression =
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
        w, Literal(org.apache.spark.unsafe.types.UTF8String.fromString(f),
          StringType))
    reg("tumble")(c => winFn(c(0), c(1)))
    reg("tumbleStart")(c => winField(winFn(c(0), c(1)), "start"))
    reg("tumbleEnd")(c => winField(winFn(c(0), c(1)), "end"))
    reg("hop")(c => winFn(c(0), c(2), c(1)))
    reg("hopStart")(c => winField(winFn(c(0), c(2), c(1)), "start"))
    reg("hopEnd")(c => winField(winFn(c(0), c(2), c(1)), "end"))

    // -State / -Merge text spellings for uniq: Spark's native HLL
    // sketch column IS the aggregate state (same opaque-state contract
    // as CH's AggregateFunction(uniq, …) columns; the library query
    // agg_uniq_state_merge proves the same pipeline)
    macroFn("uniqState", Seq("__x"), "hll_sketch_agg(__x)")
    macroFn("uniqCombinedState", Seq("__x"), "hll_sketch_agg(__x)")
    macroFn("uniqMerge", Seq("__s"),
      "CAST(hll_sketch_estimate(hll_union_agg(__s)) AS BIGINT)")
    macroFn("uniqCombinedMerge", Seq("__s"),
      "CAST(hll_sketch_estimate(hll_union_agg(__s)) AS BIGINT)")

    // wave-9 probe gaps: JSON depth-2 helpers + misc
    // JSONType names the value's CH type from the raw extracted text;
    // the 1-arg form types the document ROOT (CH makes the path
    // optional)
    macroFnN("JSONType",
      Seq("__j") ->
        """CASE WHEN __j IS NULL THEN 'Null'
                WHEN startsWith(trim(__j), '{') THEN 'Object'
                WHEN startsWith(trim(__j), '[') THEN 'Array'
                WHEN startsWith(trim(__j), '"') THEN 'String'
                WHEN trim(__j) IN ('true', 'false') THEN 'Bool'
                WHEN trim(__j) RLIKE '^-?[0-9]+$' THEN 'Int64'
                ELSE 'Double' END""",
      Seq("__j", "__k") ->
        """CASE WHEN JSONExtractRaw(__j, __k) IS NULL THEN 'Null'
                WHEN startsWith(JSONExtractRaw(__j, __k), '{') THEN 'Object'
                WHEN startsWith(JSONExtractRaw(__j, __k), '[') THEN 'Array'
                WHEN startsWith(JSONExtractRaw(__j, __k), '"') THEN 'String'
                WHEN JSONExtractRaw(__j, __k) IN ('true', 'false') THEN 'Bool'
                WHEN JSONExtractRaw(__j, __k) RLIKE '^-?[0-9]+$' THEN 'Int64'
                ELSE 'Double' END""")
    // shallow key/value pairs and key paths of a JSON object
    macroFn("JSONExtractKeysAndValues", Seq("__j"),
      "map_entries(from_json(__j, 'map<string,string>'))")
    macroFn("JSONExtractKeys", Seq("__j"),
      "map_keys(from_json(__j, 'map<string,string>'))")
    macroFn("JSONAllPaths", Seq("__j"),
      "map_keys(from_json(__j, 'map<string,string>'))")
    macroFn("toDecimalString", Seq("__x", "__n"),
      """format_string(concat('%.', CAST(CAST(__n AS INT) AS STRING), 'f'),
                       CAST(__x AS DOUBLE))""")
    macroFn("leftPadUTF8", Seq("__s", "__n", "__p"), "lpad(__s, __n, __p)")
    macroFn("rightPadUTF8", Seq("__s", "__n", "__p"), "rpad(__s, __n, __p)")
    // running sum clamped at zero after each step (CH semantics: the
    // clamp feeds forward, so it is NOT a prefix-sum — a left fold
    // carrying (array, running) state)
    macroFn("arrayCumSumNonNegative", Seq("__a"),
      """aggregate(__a,
           named_struct('arr', CAST(array() AS ARRAY<DOUBLE>),
                        'run', CAST(0 AS DOUBLE)),
           (acc, x) -> named_struct(
             'arr', concat(acc.arr, array(greatest(acc.run + x, CAST(0 AS DOUBLE)))),
             'run', greatest(acc.run + x, CAST(0 AS DOUBLE))),
           acc -> acc.arr)""")
    macroFn("multiSearchAnyCaseInsensitive", Seq("__s", "__n"),
      "exists(__n, x -> contains(lower(__s), lower(x)))")
    macroFn("multiSearchFirstIndex", Seq("__s", "__n"),
      """coalesce(array_min(filter(transform(sequence(1, size(__n)),
           i -> IF(contains(__s, element_at(__n, i)), i, NULL)),
           x -> x IS NOT NULL)), 0)""")

    // wave-8 probe gaps
    macroFn("toLastDayOfWeek", Seq("__d"),
      "date_add(toStartOfWeek(__d), 6)")
    // dense first-occurrence rank per element (array_distinct keeps
    // first-occurrence order in Spark)
    macroFn("arrayEnumerateDense", Seq("__a"),
      "transform(__a, x -> CAST(array_position(array_distinct(__a), x) AS INT))")
    macroFn("splitByWhitespace", Seq("__s"),
      """filter(split(__s, '\\s+'), x -> x != '')""")

    // ---- wave-5 breadth (probe-driven, r7) --------------------------
    macroFn("regexpQuoteMeta", Seq("__s"),
      """regexp_replace(__s, '([\\\\.^$|?*+()\\[\\]{}])', '\\\\$1')""")
    macroFn("clamp", Seq("__x", "__lo", "__hi"),
      "least(greatest(__x, __lo), __hi)")
    // CH toTime: keep the time-of-day, pin the date to 1970-01-02
    macroFn("toTime", Seq("__t"),
      """TIMESTAMP'1970-01-02 00:00:00' +
         (CAST(__t AS TIMESTAMP) - date_trunc('DAY', CAST(__t AS TIMESTAMP)))""")
    // JSONExtractArrayRaw: the array's elements as raw JSON strings
    macroFn("JSONExtractArrayRaw", Seq("__j", "__k"),
      "from_json(get_json_object(__j, concat('$.', __k)), 'array<string>')")
    // byte-set Jaccard over the strings' character sets
    macroFn("stringJaccardIndex", Seq("__a", "__b"),
      """CAST(size(array_intersect(array_distinct(split(__a, '')),
                                   array_distinct(split(__b, ''))))
         AS DOUBLE) /
         size(array_union(array_distinct(split(__a, '')),
                          array_distinct(split(__b, ''))))""")
    // mapFilter is Spark's map_filter with CH's lambda-first order.
    // NOTE: when a call carries a lambda argument, ResolveFunctions
    // requires the builder's TOP node to be a HigherOrderFunction —
    // concrete nodes, not UnresolvedFunction.
    reg("mapFilter")(c => {
      require(c.size == 2, "mapFilter(lambda, map)")
      MapFilter(c(1), c(0))
    })
    // mapUpdate(a, b): b's entries win on key collision
    macroFn("mapUpdate", Seq("__a", "__b"),
      """map_from_entries(concat(
           filter(map_entries(__a),
                  e -> NOT array_contains(map_keys(__b), e.key)),
           map_entries(__b)))""")
    // mapApply((k, v) -> (k', v'), m): rebuild via entries — the
    // 2-arg lambda body is re-bound over one entry-struct parameter
    reg("mapApply")(c => {
      require(c.size == 2, "mapApply(lambda, map)")
      val lf = c.head match {
        case l: LambdaFunction => l
        case other => throw new IllegalArgumentException(
          s"mapApply: first argument must be a lambda, got $other")
      }
      require(lf.arguments.size == 2, "mapApply lambda takes (key, value)")
      val names = lf.arguments.map {
        case v: UnresolvedNamedLambdaVariable => v.nameParts.head
        case v => v.sql
      }
      val entry = UnresolvedNamedLambdaVariable(Seq("__graft_e"))
      def fieldOf(f: String) =
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          entry, Literal(org.apache.spark.unsafe.types.UTF8String.fromString(f),
            StringType))
      val body = lf.function.transformUp {
        case v: UnresolvedNamedLambdaVariable if v.nameParts.size == 1 &&
            v.nameParts.head == names(0) => fieldOf("key")
        case v: UnresolvedNamedLambdaVariable if v.nameParts.size == 1 &&
            v.nameParts.head == names(1) => fieldOf("value")
      }
      val newLambda = LambdaFunction(body, Seq(entry))
      // ResolveFunctions insists the top node be a HigherOrderFunction
      // whenever the call had a lambda argument — wrap the rebuilt map
      // in an identity transform_values to satisfy it (optimized to
      // nothing by constant/lambda folding in practice)
      val k2 = UnresolvedNamedLambdaVariable(Seq("__graft_k2"))
      val v2 = UnresolvedNamedLambdaVariable(Seq("__graft_v2"))
      TransformValues(
        MapFromEntries(ArrayTransform(MapEntries(c(1)), newLambda)),
        LambdaFunction(v2, Seq(k2, v2)))
    })

    // arraySplit(λ, a1[, a2]): split a1 into subarrays, cutting LEFT of
    // every element where the lambda (over the zipped arrays) is
    // nonzero; the first element never starts a new cut. Flags are the
    // lambda applied via transform/zip_with; the splitting itself is a
    // parsed builtin template (starts → slices), so the whole tree
    // stays codegen'd HOFs. Top node is the outer transform —
    // ResolveFunctions requires a HigherOrderFunction there.
    // arraySplit cuts BEFORE each flagged element; arrayReverseSplit
    // cuts AFTER it (CH array-functions docs) — same machinery, the
    // segment-start predicate just looks at flag(i) vs flag(i-1).
    def arraySplitFn(name: String, predI: String, predJ: String): Unit =
        reg(name)(c => {
      require(c.size == 2 || c.size == 3,
        s"$name(lambda, arr[, arr2])")
      val lambda = c.head match {
        case l: LambdaFunction => l
        case other => throw new IllegalArgumentException(
          s"$name: first argument must be a lambda, got $other")
      }
      val flags: Expression =
        if (c.size == 2) ArrayTransform(c(1), lambda)
        else ZipWith(c(1), c(2), lambda)
      val template = spark.sessionState.sqlParser.parseExpression(
        s"""CASE WHEN size(__arr) = 0 THEN array(__arr) ELSE
             transform(
               filter(sequence(1, size(__arr)),
                      i -> i = 1 OR $predI),
               s -> slice(__arr, s,
                 coalesce(array_min(filter(sequence(1, size(__arr)),
                   j -> j > s AND $predJ)),
                   size(__arr) + 1) - s))
           END""")
      val split = template.transformUp {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if ua.name == "__arr" => c(1)
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if ua.name == "__flg" => flags
        case lv: UnresolvedNamedLambdaVariable
            if lv.nameParts == Seq("__arr") => c(1)
        case lv: UnresolvedNamedLambdaVariable
            if lv.nameParts == Seq("__flg") => flags
      }
      // identity transform keeps a HigherOrderFunction at the top
      val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
      ArrayTransform(split, LambdaFunction(x, Seq(x)))
    })
    arraySplitFn("arraySplit",
      "coalesce(CAST(element_at(__flg, i) AS BOOLEAN), false)",
      "coalesce(CAST(element_at(__flg, j) AS BOOLEAN), false)")
    arraySplitFn("arrayReverseSplit",
      "coalesce(CAST(element_at(__flg, i - 1) AS BOOLEAN), false)",
      "coalesce(CAST(element_at(__flg, j - 1) AS BOOLEAN), false)")

    // best-effort datetime parsing as a deterministic format cascade
    // (the same cascade the scalar_parse_datetime oracle proves)
    val bestEffortCascade =
      """coalesce(try_to_timestamp(__s),
                  try_to_timestamp(__s, 'yyyy-MM-dd HH:mm:ss'),
                  try_to_timestamp(__s, "yyyy-MM-dd'T'HH:mm:ss"),
                  try_to_timestamp(__s, 'dd/MM/yyyy HH:mm:ss'),
                  try_to_timestamp(__s, 'dd/MM/yyyy'),
                  try_to_timestamp(__s, 'yyyyMMdd'),
                  try_to_timestamp(__s, 'yyyy-MM-dd'))"""
    macroFn("parseDateTimeBestEffort", Seq("__s"), bestEffortCascade)
    macroFn("parseDateTimeBestEffortOrNull", Seq("__s"), bestEffortCascade)
    macroFn("parseDateTimeBestEffortOrZero", Seq("__s"),
      s"coalesce($bestEffortCascade, TIMESTAMP'1970-01-01 00:00:00')")
    // CH format('{}-{}', a, b) / format('{1}/{0}', …): the pattern is
    // a literal, so the call expands to a plain Concat at resolution
    // time — fully codegen'd, no UDF
    reg("format")(c => {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Literal}
      import org.apache.spark.sql.types.StringType
      val fmt = c.head match {
        case Literal(v, _: StringType) if v != null => v.toString
        case _ => throw new IllegalArgumentException(
          "format: the pattern must be a string literal")
      }
      val args = c.tail
      val parts = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.catalyst.expressions.Expression]
      val ph = """\{(\d*)\}""".r
      var last = 0
      var auto = 0
      for (m <- ph.findAllMatchIn(fmt)) {
        if (m.start > last) parts += Literal(fmt.substring(last, m.start))
        val idx =
          if (m.group(1).isEmpty) { val i = auto; auto += 1; i }
          else m.group(1).toInt
        require(idx < args.size, s"format: placeholder {$idx} out of range " +
          s"for ${args.size} argument(s)")
        parts += Cast(args(idx), StringType)
        last = m.end
      }
      if (last < fmt.length) parts += Literal(fmt.substring(last))
      Concat(parts.toSeq)
    })

    // web-analytics rounding (CH functions/rounding-functions):
    // fixed bucket ladders — greatest ladder value ≤ x
    macroFn("roundDuration", Seq("__x"),
      """coalesce(array_max(filter(
           array(1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800,
                 3600, 7200, 18000, 36000),
           v -> v <= __x)), 0)""")
    macroFn("roundAge", Seq("__x"),
      """CASE WHEN __x < 1 THEN 0 WHEN __x < 18 THEN 17
              WHEN __x < 25 THEN 18 WHEN __x < 35 THEN 25
              WHEN __x < 45 THEN 35 WHEN __x < 55 THEN 45 ELSE 55 END""")
    macroFn("roundToExp2", Seq("__x"),
      """CASE WHEN __x < 1 THEN 0
              ELSE shiftleft(CAST(1 AS BIGINT),
                             CAST(floor(log2(__x)) AS INT)) END""")

    // half-hour slot + Monday truncation (traffic reports)
    macroFn("timeSlot", Seq("__t"),
      "timestamp_seconds(floor(unix_seconds(CAST(__t AS TIMESTAMP)) / 1800) * 1800)")
    reg("toMonday")(c => TruncDate(Cast(c.head, DateType), Literal("WEEK")))

    // sub-day add/subtract on TIMESTAMPS (the day-and-up family above
    // is DATE-granular, CH's DateTime overloads keep time-of-day)
    macroFn("addHours", Seq("__t", "__n"),
      "CAST(__t AS TIMESTAMP) + make_interval(0, 0, 0, 0, CAST(__n AS INT), 0, 0)")
    macroFn("subtractHours", Seq("__t", "__n"),
      "CAST(__t AS TIMESTAMP) - make_interval(0, 0, 0, 0, CAST(__n AS INT), 0, 0)")
    macroFn("addMinutes", Seq("__t", "__n"),
      "CAST(__t AS TIMESTAMP) + make_interval(0, 0, 0, 0, 0, CAST(__n AS INT), 0)")
    macroFn("subtractMinutes", Seq("__t", "__n"),
      "CAST(__t AS TIMESTAMP) - make_interval(0, 0, 0, 0, 0, CAST(__n AS INT), 0)")
    macroFn("addSeconds", Seq("__t", "__n"),
      "CAST(__t AS TIMESTAMP) + make_interval(0, 0, 0, 0, 0, 0, CAST(__n AS DOUBLE))")
    macroFn("subtractSeconds", Seq("__t", "__n"),
      "CAST(__t AS TIMESTAMP) - make_interval(0, 0, 0, 0, 0, 0, CAST(__n AS DOUBLE))")

    // CH `age('unit', a, b)` counts COMPLETE elapsed units — exactly
    // Spark's timestampdiff, whose parser-reserved spelling can't take
    // a quoted unit; the Catalyst node can. (Boundary-crossing
    // dateDiff lives above as chDateDiff — the two differ by design.)
    reg("age") { c =>
      require(c.size == 3, s"age('unit', start, end) — got ${c.size} args")
      val unit = c.head match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
          s.toString.toUpperCase(java.util.Locale.ROOT)
        case e => throw new IllegalArgumentException(
          s"age requires a literal unit (got ${e.sql})")
      }
      require(Set("SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
        "QUARTER", "YEAR")(unit), s"age: unsupported unit '$unit'")
      TimestampDiff(unit, Cast(c(1), TimestampType), Cast(c(2), TimestampType))
    }

    // dateName('unit', d) → the PART as a STRING (CH returns names
    // for month/weekday, digits otherwise)
    reg("dateName") { c =>
      require(c.size == 2, s"dateName('unit', d) — got ${c.size} args")
      val unit = c.head match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
          s.toString.toLowerCase(java.util.Locale.ROOT)
        case e => throw new IllegalArgumentException(
          s"dateName requires a literal unit (got ${e.sql})")
      }
      val d = Cast(c(1), DateType)
      unit match {
        case "year" | "quarter" | "month" | "day" | "hour" | "minute" | "second" =>
          val part = unit match {
            case "year" => Year(d); case "quarter" => Quarter(d)
            case "month" => Month(d); case "day" => DayOfMonth(d)
            case "hour" => Hour(Cast(c(1), TimestampType))
            case "minute" => Minute(Cast(c(1), TimestampType))
            case "second" => Second(Cast(c(1), TimestampType))
          }
          if (unit == "month") DateFormatClass(d, Literal("MMMM"))
          else Cast(part, StringType)
        case "weekday" => DateFormatClass(d, Literal("EEEE"))
        case other => throw new IllegalArgumentException(
          s"dateName: unsupported unit '$other'")
      }
    }

    // toStartOfInterval(t, INTERVAL n unit) — CH's generalized
    // truncation. The INTERVAL literal arrives as a foldable
    // (Calendar)Interval expression; dispatch on which field is set.
    reg("toStartOfInterval") { c =>
      require(c.size == 2,
        s"toStartOfInterval(t, INTERVAL n unit) — got ${c.size} args")
      require(c(1).foldable, "toStartOfInterval needs a literal INTERVAL")
      val t = Cast(c.head, TimestampType)
      def floorSeconds(secs: Long): Expression = {
        val unixS = Cast(UnixTimestamp(t, Literal("yyyy-MM-dd HH:mm:ss")), LongType)
        val floored = Multiply(
          Cast(Floor(Divide(Cast(unixS, DoubleType), Literal(secs.toDouble))), LongType),
          Literal(secs))
        SecondsToTimestamp(floored)
      }
      val (months, days, micros) = c(1).dataType match {
        case _: org.apache.spark.sql.types.DayTimeIntervalType =>
          (0, 0L, c(1).eval().asInstanceOf[Long])
        case _: org.apache.spark.sql.types.YearMonthIntervalType =>
          (c(1).eval().asInstanceOf[Int], 0L, 0L)
        case org.apache.spark.sql.types.CalendarIntervalType =>
          val ci = c(1).eval()
            .asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
          (ci.months, ci.days.toLong, ci.microseconds)
        case other => throw new IllegalArgumentException(
          s"toStartOfInterval: second argument must be an INTERVAL, got $other")
      }
      if (months > 0) {
        require(days == 0 && micros == 0,
          "toStartOfInterval: mixed month/day intervals unsupported")
        // floor months-since-epoch to the stride, rebuild a DATE
        val m0 = Add(Multiply(Subtract(Year(Cast(c.head, DateType)), Literal(1970)),
          Literal(12)), Subtract(Month(Cast(c.head, DateType)), Literal(1)))
        val fl = Multiply(
          Cast(Floor(Divide(Cast(m0, DoubleType), Literal(months.toDouble))),
            IntegerType),
          Literal(months))
        AddMonths(Cast(Literal("1970-01-01"), DateType), fl)
      } else if (days > 0) {
        require(micros == 0,
          "toStartOfInterval: mixed day/time intervals unsupported")
        floorSeconds(days * 86400L)
      } else {
        require(micros > 0 && micros % 1000000L == 0,
          "toStartOfInterval: sub-second strides unsupported")
        floorSeconds(micros / 1000000L)
      }
    }

    // string-family aliases with identical argument order
    fr.createOrReplaceTempFunction(gd("concatWithSeparator"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("concat_ws")).get, "built-in")
    fr.createOrReplaceTempFunction(gd("substringIndex"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("substring_index")).get, "built-in")
    fr.createOrReplaceTempFunction(gd("translateUTF8"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("translate")).get, "built-in")

    // integer gcd/lcm under the CH names (no Spark builtins to shadow;
    // the codegen'd expressions from functions/IntMath)
    reg("gcd")(c => Gcd(Cast(c(0), LongType), Cast(c(1), LongType)))
    reg("lcm")(c => Lcm(Cast(c(0), LongType), Cast(c(1), LongType)))

    // CH `transform(x, from_array, to_array[, default])` — the value
    // remapper (web-analytics classic). The name collides with
    // Spark's higher-order transform(arr, lambda), so the builder
    // DISPATCHES on arity/shape: 2-arg lambda form stays Spark's
    // ArrayTransform; 3/4-arg form becomes a map lookup over
    // map_from_arrays (foldable literal arrays → Catalyst folds the
    // map construction to a constant).
    reg("transform") { c =>
      c.size match {
        case 2 => ArrayTransform(c(0), c(1))
        case 3 | 4 =>
          val lookup = ElementAt(MapFromArrays(c(1), c(2)), c(0))
          val dflt = if (c.size == 4) c(3) else c(0)
          Coalesce(Seq(lookup, dflt))
        case n => throw new IllegalArgumentException(
          s"transform takes (arr, lambda) or (x, from, to[, default]); got $n args")
      }
    }
    // arrayJoin(arr) — CH's row-exploding function form
    fr.createOrReplaceTempFunction(gd("arrayJoin"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("explode")).get, "built-in")
    // arrayFold(acc_lambda, arr, init) — CH argument order; the merge
    // lambda is (acc, x), same as Spark's aggregate
    reg("arrayFold") { c =>
      require(c.size == 3, s"arrayFold(lambda, arr, init) — got ${c.size} args")
      val idv = UnresolvedNamedLambdaVariable(Seq("__id"))
      ArrayAggregate(c(1), c(2), c(0) match {
        case l: LambdaFunction => l
        case other => throw new IllegalArgumentException(
          s"arrayFold needs a lambda first (CH argument order), got ${other.sql}")
      }, LambdaFunction(idv, Seq(idv)))
    }

    // retention(cond1, …, condN): array of per-group flags — r[0] =
    // max(cond1), r[i] = max(cond1 AND condi) — CH's cohort-retention
    // aggregate as one CreateArray of Max aggregates (the analyzer
    // splits them into ordinary agg expressions)
    reg("retention") { c =>
      require(c.nonEmpty, "retention needs at least one condition")
      import org.apache.spark.sql.catalyst.expressions.aggregate.Max
      CreateArray(c.zipWithIndex.map { case (cond, i) =>
        val hit = if (i == 0) c.head else And(c.head, cond)
        Max(If(hit, Literal(1), Literal(0))).toAggregateExpression()
      })
    }

    // aggregate spellings expressible as builtin compositions
    // (avgWeighted yields NaN on zero total weight, CH's contract —
    // a bare division would throw under ANSI)
    // sums stay in the INPUT type (pass decimals for FP-order-exact
    // totals, the Det.dsum convention); only the ratio is Float64
    macroFn("avgWeighted", Seq("__x", "__w"),
      """CASE WHEN sum(__w) = 0 THEN CAST('NaN' AS DOUBLE)
              ELSE CAST(sum(__x * __w) / sum(__w) AS DOUBLE) END""")
    // CH argument order (x, y); Spark's regr_* take (y, x)
    macroFn("simpleLinearRegression", Seq("__x", "__y"),
      "named_struct('k', regr_slope(__y, __x), 'b', regr_intercept(__y, __x))")
    macroFn("boundingRatio", Seq("__x", "__y"),
      """CASE WHEN max(__x) = min(__x) THEN CAST('NaN' AS DOUBLE)
              ELSE (max_by(CAST(__y AS DOUBLE), __x) -
                    min_by(CAST(__y AS DOUBLE), __x)) /
                   (max(__x) - min(__x)) END""")

    // string search family
    macroFn("countSubstrings", Seq("__h", "__n"),
      "(length(__h) - length(replace(__h, __n, ''))) DIV length(__n)")
    macroFn("positionCaseInsensitive", Seq("__h", "__n"),
      "instr(lower(__h), lower(__n))")
    fr.createOrReplaceTempFunction(gd("countMatches"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("regexp_count")).get, "built-in")

    // decimal casts with a literal scale (type parameters cannot live
    // in a parse-once macro body — the DecimalType is built here)
    def toDec(name: String, precision: Int): Unit = reg(name) { c =>
      require(c.size == 2, s"$name(x, scale) — got ${c.size} args")
      val s = c(1) match {
        case Literal(i: Int, _) => i
        case e => throw new IllegalArgumentException(
          s"$name requires a literal scale (got ${e.sql})")
      }
      require(s >= 0 && s <= precision, s"$name scale must be 0..$precision")
      Cast(c.head, org.apache.spark.sql.types.DecimalType(precision, s))
    }
    toDec("toDecimal32", 9)
    toDec("toDecimal64", 18)
    toDec("toDecimal128", 38)

    // unsigned spellings map onto the next-size signed type (Spark
    // has no unsigned integers; documented range drift above 2^63-1)
    fr.createOrReplaceTempFunction(gd("toUInt8"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("smallint")).get, "built-in")
    fr.createOrReplaceTempFunction(gd("toUInt16"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("int")).get, "built-in")
    fr.createOrReplaceTempFunction(gd("toUInt32"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("bigint")).get, "built-in")
    fr.createOrReplaceTempFunction(gd("toUInt64"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("bigint")).get, "built-in")

    // random-family spellings (nondeterministic by nature, like rand)
    fr.createOrReplaceTempFunction(gd("generateUUIDv4"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("uuid")).get, "built-in")
    fr.createOrReplaceTempFunction(gd("randCanonical"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("rand")).get, "built-in")
    // NOTE: randNormal is NOT an alias for Spark's randn — CH's
    // signature is randNormal(mean, variance), and randn(seed) would
    // silently read the mean as a seed. The faithful 2-arg UDF is
    // registered in the wave-28 random-distribution block below.

    // CH arraySort/arrayReverseSort: the optional KEY lambda comes
    // FIRST (Spark's array_sort takes a two-argument COMPARATOR, so
    // the alias alone would reject CH text). The key form compiles
    // Schwartzian: decorate each element with (key, position), sort by
    // the default struct ordering (key, then position — stable by
    // construction), then strip. The reverse form NEGATES the position
    // so that after the final reverse, equal keys keep their original
    // order — CH documents both sorts as stable.
    def sortByKey(c: Seq[Expression], rev: Boolean): Expression = c match {
      case Seq(arr) =>
        if (rev) Reverse(new ArraySort(arr)) else new ArraySort(arr)
      case Seq(f: LambdaFunction, arr) =>
        require(f.arguments.size == 1,
          "arraySort(fn, arr): the key lambda takes one element argument")
        val v = UnresolvedNamedLambdaVariable(Seq("__sv"))
        val i = UnresolvedNamedLambdaVariable(Seq("__si"))
        val argName = f.arguments.head
          .asInstanceOf[UnresolvedNamedLambdaVariable].nameParts
        val key = f.function.transformUp {
          case u: UnresolvedNamedLambdaVariable if u.nameParts == argName => v
        }
        val pos = if (rev) Subtract(Literal(0), i) else (i: Expression)
        val deco = ArrayTransform(arr, LambdaFunction(
          CreateNamedStruct(Seq(Literal("k"), key, Literal("i"), pos,
            Literal("v"), v)), Seq(v, i)))
        val sorted = new ArraySort(deco)
        val s = UnresolvedNamedLambdaVariable(Seq("__ss"))
        ArrayTransform(if (rev) Reverse(sorted) else (sorted: Expression),
          LambdaFunction(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(s, Literal("v")), Seq(s)))
      case other => throw new IllegalArgumentException(
        s"arraySort takes (arr) or (keyFn, arr), got ${other.size} args")
    }
    reg("arraySort")(c => sortByKey(c, rev = false))
    reg("arrayReverseSort")(c => sortByKey(c, rev = true))

    // CH -ForEach combinator family: the aggregate applied ELEMENTWISE
    // across rows at each array position (docs: aggregate-functions/
    // combinators#-foreach). countForEach rides sumForEach over
    // indicator arrays.
    Seq("sum", "min", "max", "avg").foreach { op =>
      spark.udf.register(gd(op + "ForEach"),
        org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.ForEachNum(op)))
    }
    macroFn("countForEach", Seq("__a"),
      """CAST(sumForEach(transform(__a,
           __x -> CAST(IF(__x IS NULL, 0, 1) AS DOUBLE))) AS ARRAY<BIGINT>)""")

    // CH sumMap/minMap/maxMap: two-array form `sumMap(keys, vals)` and
    // one-arg Map-column form `sumMap(m)` both dispatch onto a shared
    // UDAF (result = CH's (sorted keys, aggregated values) pair). The
    // builder emits an UnresolvedFunction so the dispatch-by-arity
    // happens before resolution; keys normalize to DOUBLE.
    Seq("sum" -> "sumMap", "min" -> "minMap", "max" -> "maxMap")
      .foreach { case (op, nm) =>
        val inner = "__ch_" + nm.toLowerCase(java.util.Locale.ROOT)
        spark.udf.register(gd(inner),
          org.apache.spark.sql.functions.udaf(
            new graft.ops.Aggregates.MapCombine(op)))
        def darr(e: Expression): Expression =
          Cast(e, org.apache.spark.sql.types.ArrayType(DoubleType))
        reg(nm) {
          case Seq(m) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
              inner, Seq(darr(MapKeys(m)), darr(MapValues(m))),
              isDistinct = false)
          case Seq(k, v) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
              inner, Seq(darr(k), darr(v)), isDistinct = false)
          case other => throw new IllegalArgumentException(
            s"$nm takes (map) or (keys, values), got ${other.size} args")
        }
      }

    // CH toWeek(d) (default mode 0 = MySQL WEEK(d,0)): Sunday-start
    // weeks, week 1 begins at the year's first Sunday, earlier days
    // are week 0. toISOWeek is the ISO 8601 week number.
    // mode 0 (default) = MySQL WEEK(d,0): Sunday-start, week 1 begins
    // at the year's first Sunday; mode 1 = Monday-start with the
    // ≥4-days rule (ISO-aligned but 0-based at year starts); mode 3 =
    // ISO 8601 (1–53). Other modes fail loudly.
    def week0Of(d: String) =
      s"""IF(dayofyear(CAST($d AS DATE)) <=
            (8 - dayofweek(trunc(CAST($d AS DATE), 'YEAR'))) % 7,
          0,
          CAST(floor((dayofyear(CAST($d AS DATE)) - 1 -
              (8 - dayofweek(trunc(CAST($d AS DATE), 'YEAR'))) % 7) / 7)
            AS INT) + 1)"""
    val week0 = week0Of("__d")
    val week1 =
      """(CAST(datediff(
            date_sub(CAST(__d AS DATE),
                     (dayofweek(CAST(__d AS DATE)) + 5) % 7),
            date_sub(trunc(CAST(__d AS DATE), 'YEAR'),
                     (dayofweek(trunc(CAST(__d AS DATE), 'YEAR')) + 5) % 7))
          DIV 7 AS INT) +
        IF((dayofweek(trunc(CAST(__d AS DATE), 'YEAR')) + 5) % 7 <= 3, 1, 0))"""
    macroFnN("toWeek",
      Seq("__d") -> week0,
      Seq("__d", "__m") ->
        (s"""CASE WHEN __m = 0 THEN $week0
             |     WHEN __m = 1 THEN $week1
             |     WHEN __m = 3 THEN weekofyear(CAST(__d AS DATE))
             |     ELSE CAST(raise_error(
             |       'toWeek: only modes 0, 1, 3 are supported') AS INT)
             |END""".stripMargin))
    // toYearWeek (mode 0): year*100 + week, where week-0 days belong
    // to the PREVIOUS year's final week (computed as the week number
    // of that year's Dec 31)
    macroFn("toYearWeek", Seq("__d0"),
      s"""CASE WHEN (${week0Of("__d0")}) = 0 THEN
            (year(CAST(__d0 AS DATE)) - 1) * 100 +
            (${week0Of("date_sub(trunc(CAST(__d0 AS DATE), 'YEAR'), 1)")})
          ELSE year(CAST(__d0 AS DATE)) * 100 +
            (${week0Of("__d0")}) END""")
    macroFn("toISOWeek", Seq("__d"), "weekofyear(CAST(__d AS DATE))")
    macroFn("toStartOfISOYear", Seq("__d"),
      """date_sub(
           make_date(CAST(extract(YEAROFWEEK FROM CAST(__d AS DATE)) AS INT),
                     1, 4),
           (dayofweek(make_date(
              CAST(extract(YEAROFWEEK FROM CAST(__d AS DATE)) AS INT),
              1, 4)) + 5) % 7)""")

    // CH anyHeavy: an approximate heavy hitter. Spark's Mode is the
    // dialect-level stand-in (exact most-frequent value); the
    // tie-safe exact form is the agg_any_bounding query's operator.
    reg("anyHeavy")(c =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.Mode(c.head))

    // CH untuple(t) expands a tuple into columns. Inline over a
    // one-element array is Spark's generator form of exactly that —
    // usable where generators are (top-level SELECT), like CH's own
    // select-clause restriction.
    reg("untuple") { c =>
      require(c.size == 1, "untuple takes one tuple argument")
      Inline(CreateArray(c))
    }

    // CH formatRow('Format', v…): one row rendered as text
    reg("formatRow") { c =>
      require(c.size >= 2 && c.head.foldable,
        "formatRow('CSV'|'TSV'|'JSONEachRow', v…)")
      val fmt = c.head.eval().toString.toLowerCase(java.util.Locale.ROOT)
      fmt match {
        case "csv" => StructsToCsv(Map.empty, CreateStruct(c.tail))
        case "tsv" | "tabseparated" =>
          ConcatWs(Literal("\t") +: c.tail.map(Cast(_, StringType)))
        case "jsoneachrow" => StructsToJson(Map.empty, CreateStruct(c.tail))
        case other => throw new IllegalArgumentException(
          s"formatRow: unsupported format '$other' (CSV/TSV/JSONEachRow)")
      }
    }

    // Unicode normalization forms (java.text.Normalizer, codegen'd)
    Seq("NFC", "NFD", "NFKC", "NFKD").foreach { form =>
      reg("normalizeUTF8" + form)(c => UnicodeNormalize(c.head, form))
    }

    // stability-suffixed moment aggregates: CH's *Stable variants are
    // the same statistics with a summation-order guarantee; Spark's
    // builtins are the mapping (our DECIMAL-sum determinism convention
    // covers the order concern in oracle-checked entries)
    Seq("corrStable" -> "corr", "covarPopStable" -> "covar_pop",
      "covarSampStable" -> "covar_samp", "stddevPopStable" -> "stddev_pop",
      "stddevSampStable" -> "stddev_samp", "varPopStable" -> "var_pop",
      "varSampStable" -> "var_samp").foreach { case (ch, sp) =>
      fr.createOrReplaceTempFunction(gd(ch), FunctionRegistry.builtin
        .lookupFunctionBuilder(FunctionIdentifier(sp)).get, "built-in")
    }
    fr.createOrReplaceTempFunction(gd("reverseUTF8"), FunctionRegistry.builtin
      .lookupFunctionBuilder(FunctionIdentifier("reverse")).get, "built-in")

    macroFn("isZeroOrNull", Seq("__x"), "coalesce(__x = 0, true)")
    macroFn("ifNotFinite", Seq("__x", "__y"),
      "IF(isnan(__x) OR abs(__x) = double('inf'), __y, __x)")
    reg("toStartOfSecond")(c => TruncTimestamp(Literal("SECOND"), c.head))

    // CH groupConcat(x[, sep]): concatenated group values (encounter
    // order, like CH — sort upstream for determinism)
    reg("groupConcat") { c =>
      require(c.nonEmpty && c.size <= 2, "groupConcat(x[, separator])")
      import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
      val sep = c.drop(1).headOption.getOrElse(Literal(""))
      ArrayJoin(CollectList(Cast(c.head, StringType)).toAggregateExpression(),
        sep, None)
    }

    // CH dateAdd/dateSub(unit, n, x): sugar over the add*/subtract*
    // family above; the unit arrives as a bare identifier or a string
    def chUnit(e: Expression): String = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name.toLowerCase(java.util.Locale.ROOT)
      case Literal(s, StringType) => s.toString.toLowerCase(java.util.Locale.ROOT)
      case other => throw new IllegalArgumentException(
        s"dateAdd/dateSub: unit must be a bare keyword, got ${other.sql}")
    }
    def dateArith(pre: String)(c: Seq[Expression]): Expression = {
      require(c.size == 3, s"${pre}…(unit, n, date) takes three arguments")
      val u = chUnit(c.head)
      val fn = pre + u.capitalize + "s"
      fr.lookupFunctionBuilder(FunctionIdentifier(fn)).getOrElse(
        throw new IllegalArgumentException(
          s"dateAdd/dateSub: unsupported unit '$u'"))(Seq(c(2), c(1)))
    }
    // the *Add spellings (dateAdd/date_add/timestampAdd) are handled
    // by Spark's own grammar with unquoted units; only the *Sub forms
    // need builders (units pre-quoted by the front door's lexical pass)
    reg("dateSub")(dateArith("subtract"))
    reg("timestampSub")(dateArith("subtract"))
    val nativeDateSub = FunctionRegistry.builtin
      .lookupFunctionBuilder(FunctionIdentifier("date_sub")).get
    reg("date_sub")(c =>
      if (c.size == 3) dateArith("subtract")(c) else nativeDateSub(c))

    // CH accurateCast[OrNull](x, 'Type') with CH type names; OrNull is
    // try_cast semantics (NULL on failure instead of an error).
    // UNSIGNED targets map to wider signed Spark types, so the width
    // cast alone would accept out-of-range values (UInt8 ← 300) and
    // negatives — an explicit range gate restores CH's contract.
    def accCast(c: Seq[Expression], tryMode: Boolean): Expression = {
      require(c.size == 2, "accurateCast(x, 'Type')")
      val t = c(1) match {
        case Literal(s, _) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"accurateCast: type must be a string literal, got ${other.sql}")
      }
      val dt = graft.ChSql.chType(t)
      val base =
        if (tryMode) Cast(c.head, dt, None, EvalMode.TRY) else Cast(c.head, dt)
      val uintRe = "(?i)uint(8|16|32|64)".r
      t.trim match {
        case uintRe(bits) =>
          // Range-gate through DECIMAL, not DOUBLE: a double compare
          // loses precision near 2^53, so UInt64-boundary values
          // could slip through or be falsely rejected. Decimal(38,6)
          // holds every 64-bit integer exactly and keeps enough
          // scale to catch fractional inputs (CH rejects
          // accurateCast(3.5, 'UInt8') — integrality is part of the
          // contract, not just range).
          val asDec = Cast(c.head, DecimalType(38, 6), None, EvalMode.TRY)
          val loOk = GreaterThanOrEqual(asDec,
            Literal(Decimal(0, 38, 6), DecimalType(38, 6)))
          val hiOk: Expression =
            if (bits == "64")
              // UInt64 is carried as LongType: [2^63, 2^64) — which CH
              // itself accepts — exceeds the carrier and is rejected
              // LOUDLY here (error, never silent wraparound).
              LessThanOrEqual(asDec, Literal(
                Decimal(java.math.BigDecimal.valueOf(Long.MaxValue), 38, 6),
                DecimalType(38, 6)))
            else LessThanOrEqual(asDec, Literal(
              Decimal(java.math.BigDecimal.valueOf(
                (1L << bits.toInt) - 1), 38, 6), DecimalType(38, 6)))
          val integral = EqualTo(asDec, Floor(asDec))
          // The DECIMAL(38,6) image ROUNDS at the 6th decimal, so a
          // sub-µ fraction (255.0000004) would pass the floor check —
          // CH rejects it. Also require the image be value-faithful:
          // image == original under double compare (exact for every
          // representable integral double; any rounding at cast time
          // breaks the equality).
          val faithful = EqualTo(Cast(asDec, DoubleType, None, EvalMode.TRY),
            Cast(c.head, DoubleType, None, EvalMode.TRY))
          val inRange = Or(IsNull(c.head),
            And(And(loOk, hiOk), And(integral, faithful)))
          if (tryMode) If(inRange, base, Literal.create(null, dt))
          else If(inRange, base, Cast(spark.sessionState.sqlParser
            .parseExpression(
              s"raise_error('accurateCast: value out of range for $t')"), dt))
        case _ => base
      }
    }
    reg("accurateCast")(accCast(_, tryMode = false))
    reg("accurateCastOrNull")(accCast(_, tryMode = true))

    // CASE sugar spellings: caseWithExpression(x, a1, r1, …, default)
    // is the operand form as a function; caseWithoutExpression is
    // multiIf under its other documented name
    reg("caseWithExpression") { c =>
      require(c.size >= 4 && c.size % 2 == 0,
        "caseWithExpression(x, match1, result1, …, default)")
      val pairs = c.tail.dropRight(1).grouped(2).map {
        case scala.collection.Seq(a, r) => (EqualTo(c.head, a), r)
      }.toSeq
      CaseWhen(pairs, Some(c.last))
    }
    reg("caseWithoutExpression") { c =>
      require(c.size >= 3 && c.size % 2 == 1,
        "caseWithoutExpression(cond1, result1, …, default)")
      val pairs = c.dropRight(1).grouped(2).map {
        case scala.collection.Seq(cond, r) => (cond, r)
      }.toSeq
      CaseWhen(pairs, Some(c.last))
    }

    // CH external dictionaries: the dictGet family resolves against
    // the CREATE DICTIONARY state of the session analyzing the call
    // (graft.ChSql.dictionaries of SparkSession.active). Lookups are
    // literal-map element_at — fully codegen'd, and the dictionary
    // ships with the serialized plan to every executor, the same
    // distribution model as CH's replicated in-RAM dictionaries.
    // Missing keys yield the attribute type's default value (CH's
    // non-Nullable contract); dictGetOrNull yields NULL.
    def dictSpec(e: Expression, fn: String): graft.ChSql.DictSpec = e match {
      case Literal(s, StringType) if s != null =>
        graft.ChSql.dictionaries(SparkSession.active).getOrElse(s.toString,
          throw new IllegalArgumentException(
            s"$fn: unknown dictionary '$s' — CREATE DICTIONARY first"))
      case other => throw new IllegalArgumentException(
        s"$fn: dictionary name must be a string literal, got ${other.sql}")
    }
    def dictLookup(c: Seq[Expression], fn: String): (Expression, DataType) = {
      val spec = dictSpec(c(0), fn)
      val attr = c(1) match {
        case Literal(s, StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"$fn: attribute name must be a string literal, got ${other.sql}")
      }
      val (dt, mapLit) = spec.attrs.getOrElse(attr,
        throw new IllegalArgumentException(
          s"$fn: no attribute '$attr' (have: ${spec.attrs.keys.mkString(", ")})"))
      (ElementAt(mapLit, Cast(c(2), spec.keyType), None, failOnError = false),
        dt)
    }
    def typeDefault(dt: DataType): Expression = dt match {
      case StringType => Literal("")
      case BooleanType => Literal(false)
      case _ => Cast(Literal(0), dt)
    }
    reg("dictGet") { c =>
      require(c.size == 3, "dictGet('dict', 'attr', key)")
      val (e, dt) = dictLookup(c, "dictGet")
      Coalesce(Seq(e, typeDefault(dt)))
    }
    reg("dictGetOrNull") { c =>
      require(c.size == 3, "dictGetOrNull('dict', 'attr', key)")
      dictLookup(c, "dictGetOrNull")._1
    }
    reg("dictGetOrDefault") { c =>
      require(c.size == 4, "dictGetOrDefault('dict', 'attr', key, default)")
      Coalesce(Seq(dictLookup(c.take(3), "dictGetOrDefault")._1, c(3)))
    }
    reg("dictHas") { c =>
      require(c.size == 2, "dictHas('dict', key)")
      val spec = dictSpec(c(0), "dictHas")
      ArrayContains(spec.keysLit, Cast(c(1), spec.keyType))
    }
    Seq("String" -> StringType, "Int64" -> LongType, "UInt64" -> LongType,
      "Int32" -> IntegerType, "Float64" -> DoubleType,
      "Date" -> DateType).foreach { case (suf, dt) =>
      reg("dictGet" + suf) { c =>
        require(c.size == 3, s"dictGet$suf('dict', 'attr', key)")
        val (e, adt) = dictLookup(c, "dictGet" + suf)
        Cast(Coalesce(Seq(e, typeDefault(adt))), dt)
      }
    }
    // hierarchical-dictionary family [CH docs: ext-dict-functions]:
    // the dictionary's `parent` attribute (UInt64→UInt64) forms the
    // forest; the map literal ships with the plan and the walks run
    // executor-local (functions/DictHierarchy.scala)
    def parentMap(c: Seq[Expression], fn: String) = {
      val spec = dictSpec(c(0), fn)
      val (pdt, mapLit) = spec.attrs.getOrElse("parent",
        throw new IllegalArgumentException(
          s"$fn: dictionary has no 'parent' attribute — hierarchical " +
            "functions need a UInt64 parent column named 'parent'"))
      require(spec.keyType == LongType && pdt == LongType,
        s"$fn: hierarchical dictionaries need UInt64 keys and parents")
      mapLit
    }
    reg("dictGetHierarchy") { c =>
      require(c.size == 2, "dictGetHierarchy('dict', key)")
      DictHierarchy(Cast(c(1), LongType), parentMap(c, "dictGetHierarchy"))
    }
    reg("dictIsIn") { c =>
      require(c.size == 3, "dictIsIn('dict', child, ancestor)")
      ArrayContains(
        DictHierarchy(Cast(c(1), LongType), parentMap(c, "dictIsIn")),
        Cast(c(2), LongType))
    }
    reg("dictGetChildren") { c =>
      require(c.size == 2, "dictGetChildren('dict', key)")
      DictDescendants(Cast(c(1), LongType),
        parentMap(c, "dictGetChildren"), level = 1)
    }
    reg("dictGetDescendants") { c =>
      require(c.size == 2 || c.size == 3,
        "dictGetDescendants('dict', key[, level])")
      val lvl = if (c.size == 3) c(2) match {
        case Literal(v, _: IntegerType) => v.asInstanceOf[Int]
        case Literal(v, _: LongType) => v.asInstanceOf[Long].toInt
        case other => throw new IllegalArgumentException(
          s"dictGetDescendants: level must be an integer literal, got ${other.sql}")
      } else 0
      DictDescendants(Cast(c(1), LongType),
        parentMap(c, "dictGetDescendants"), lvl)
    }

    // custom expressions under their CH spellings
    reg("sipHash64")(c => SipHash64(c.head))
    reg("intHash64")(c => IntHash64(Cast(c.head, LongType)))
    reg("xxHash32")(c => XxHash32Ch(c.head))
    reg("geohashEncode")(c => GeohashEncode(
      Cast(c(0), DoubleType), Cast(c(1), DoubleType),
      if (c.size > 2) Cast(c(2), IntegerType) else Literal(12)))
    reg("geohashDecode")(c => GeohashDecode(c.head))
    reg("pointInPolygon")(c => PointInPolygon(c(0), c(1), c(2)))
    // S2 cell family — native implementation (functions/S2.scala),
    // pinned against the CH-documented vectors in S2Spec/ChCompatSpec
    reg("geoToS2")(c => GeoToS2(Cast(c(0), DoubleType), Cast(c(1), DoubleType)))
    reg("s2ToGeo")(c => S2ToGeo(Cast(c.head, LongType)))
    reg("s2GetNeighbors")(c => S2GetNeighbors(Cast(c.head, LongType)))
    reg("s2CellsIntersect")(c =>
      S2CellsIntersect(Cast(c(0), LongType), Cast(c(1), LongType)))
    reg("s2CapContains")(c => S2CapContains(Cast(c(0), LongType),
      Cast(c(1), DoubleType), Cast(c(2), LongType)))
    reg("s2RectContains")(c => S2RectContains(Cast(c(0), LongType),
      Cast(c(1), LongType), Cast(c(2), LongType)))
    reg("s2RectAdd")(c => S2RectAdd(Cast(c(0), LongType),
      Cast(c(1), LongType), Cast(c(2), LongType)))
    reg("s2RectUnion")(c => S2RectUnion(Cast(c(0), LongType),
      Cast(c(1), LongType), Cast(c(2), LongType), Cast(c(3), LongType)))
    reg("s2RectIntersection")(c => S2RectIntersection(Cast(c(0), LongType),
      Cast(c(1), LongType), Cast(c(2), LongType), Cast(c(3), LongType)))
    reg("s2CapUnion")(c => S2CapUnion(Cast(c(0), LongType),
      Cast(c(1), DoubleType), Cast(c(2), LongType), Cast(c(3), DoubleType)))
    // H3 index bit-algebra (functions/H3Bits.scala) + the r17 native
    // geo↔cell projection (functions/H3Proj.scala — the published
    // base-cell/face tables transcribed with init-time cross-checks,
    // the face/ijk lookup DERIVED geometrically; H3ProjSpec pins the
    // published vectors incl. CH's Moscow res-15 value bit-exact).
    // CH argument order: geoToH3(lon, lat, res); h3ToGeo → (lon, lat).
    reg("geoToH3")(c => GeoToH3(Cast(c(0), DoubleType),
      Cast(c(1), DoubleType), Cast(c(2), IntegerType)))
    reg("h3ToGeo")(c => H3ToGeo(Cast(c.head, LongType)))
    reg("h3ToGeoBoundary")(c => H3ToGeoBoundary(Cast(c.head, LongType)))
    reg("h3GetFaces")(c => H3GetFaces(Cast(c.head, LongType)))
    // USER-FACING h3Line divergences (r18 ADVICE — surfaced here, not
    // just in gridPath's scaladoc): (1) pairs farther than 64 grid
    // rings apart REFUSE (the gridDistance BFS cap — CH's h3Line has
    // no cap; a longer per-row line is a scale bug here, same contract
    // as h3_k_ring's k ≤ 32); (2) cross-face pairs return a BFS
    // shortest path, not the published same-face cube lerp (h3lib
    // itself refuses across pentagon distortion there). Also noted in
    // SURVEY §8's divergence list.
    reg("h3Line")(c =>
      H3Line(Cast(c(0), LongType), Cast(c(1), LongType)))
    reg("h3CellAreaM2")(c => H3CellAreaM2(Cast(c.head, LongType)))
    reg("h3CellAreaRads2")(c => H3CellAreaRads2(Cast(c.head, LongType)))
    reg("h3HexRing")(c =>
      H3HexRing(Cast(c(0), LongType), Cast(c(1), IntegerType)))
    reg("h3IndexesAreNeighbors")(c =>
      H3IndexesAreNeighbors(Cast(c(0), LongType), Cast(c(1), LongType)))
    reg("h3PointDistM")(c => H3PointDist(Cast(c(0), DoubleType),
      Cast(c(1), DoubleType), Cast(c(2), DoubleType), Cast(c(3), DoubleType),
      "M"))
    reg("h3PointDistKm")(c => H3PointDist(Cast(c(0), DoubleType),
      Cast(c(1), DoubleType), Cast(c(2), DoubleType), Cast(c(3), DoubleType),
      "Km"))
    reg("h3PointDistRads")(c => H3PointDist(Cast(c(0), DoubleType),
      Cast(c(1), DoubleType), Cast(c(2), DoubleType), Cast(c(3), DoubleType),
      "Rads"))
    reg("h3EdgeAngle")(c => H3EdgeAngle(Cast(c.head, IntegerType)))
    // the 122 res-0 roots are a CONSTANT — a foldable literal beats a
    // leaf expression (stays inside codegen, constant-folds for free)
    reg("h3GetRes0Indexes")(_ => Literal.create(H3Proj.res0Indexes,
      ArrayType(LongType, containsNull = false)))
    reg("h3GetPentagonIndexes")(c =>
      H3GetPentagonIndexes(Cast(c.head, IntegerType)))
    reg("h3GetUnidirectionalEdge")(c =>
      H3GetUnidirectionalEdge(Cast(c(0), LongType), Cast(c(1), LongType)))
    reg("h3UnidirectionalEdgeIsValid")(c =>
      H3UnidirectionalEdgeIsValid(Cast(c.head, LongType)))
    reg("getH3IndexesFromUnidirectionalEdge")(c =>
      H3IndexesFromEdge(Cast(c.head, LongType)))
    reg("getH3UnidirectionalEdgesFromHexagon")(c =>
      H3EdgesFromCell(Cast(c.head, LongType)))
    reg("getH3UnidirectionalEdgeBoundary")(c =>
      H3EdgeBoundary(Cast(c.head, LongType)))
    reg("h3ExactEdgeLengthM")(c =>
      H3ExactEdgeLength(Cast(c.head, LongType), "M"))
    reg("h3ExactEdgeLengthKm")(c =>
      H3ExactEdgeLength(Cast(c.head, LongType), "Km"))
    reg("h3ExactEdgeLengthRads")(c =>
      H3ExactEdgeLength(Cast(c.head, LongType), "Rads"))
    reg("h3kRing")(c =>
      H3KRing(Cast(c(0), LongType), Cast(c(1), IntegerType)))
    reg("h3Distance")(c =>
      H3GridDistance(Cast(c(0), LongType), Cast(c(1), LongType)))
    reg("h3HexAreaM2")(c => H3HexAreaM2(Cast(c.head, IntegerType)))
    reg("h3HexAreaKm2")(c => H3HexAreaKm2(Cast(c.head, IntegerType)))
    reg("h3EdgeLengthM")(c => H3EdgeLengthM(Cast(c.head, IntegerType)))
    reg("h3EdgeLengthKm")(c => H3EdgeLengthKm(Cast(c.head, IntegerType)))
    reg("h3GetResolution")(c => H3GetResolution(Cast(c.head, LongType)))
    reg("h3GetBaseCell")(c => H3GetBaseCell(Cast(c.head, LongType)))
    reg("h3IsValid")(c => H3IsValid(Cast(c.head, LongType)))
    reg("h3IsPentagon")(c => H3IsPentagon(Cast(c.head, LongType)))
    reg("h3IsResClassIII")(c => H3IsResClassIII(Cast(c.head, LongType)))
    reg("h3ToParent")(c =>
      H3ToParent(Cast(c(0), LongType), Cast(c(1), IntegerType)))
    reg("h3ToCenterChild")(c =>
      H3ToCenterChild(Cast(c(0), LongType), Cast(c(1), IntegerType)))
    reg("h3ToChildren")(c =>
      H3ToChildren(Cast(c(0), LongType), Cast(c(1), IntegerType)))
    reg("h3ToString")(c => H3ToString(Cast(c.head, LongType)))
    reg("stringToH3")(c => StringToH3(c.head))
    reg("h3NumHexagons")(c => H3NumHexagons(Cast(c.head, IntegerType)))
    // per-row simhash spellings (wave 43) — sipHash64-based stand-ins
    // (hamming-locality preserved; NOT CityHash bit-parity, see the
    // §8 divergence list; the oracle-checked near-dup path stays
    // Text.simhash32Sql / pipe_simhash*)
    reg("wordShingleSimHash")(c => SimHashText(c(0),
      if (c.size > 1) Cast(c(1), IntegerType) else Literal(3), word = true))
    reg("ngramSimHash")(c => SimHashText(c(0),
      if (c.size > 1) Cast(c(1), IntegerType) else Literal(3), word = false))
    // hasTokenOrNull: NULL (instead of hasToken's plain answer) when
    // the needle is not a single well-formed token. A token may contain
    // non-ASCII characters (CH separators are ASCII-only), so the
    // needle check is "no ASCII separator bytes", not "[A-Za-z0-9]+"
    macroFn("hasTokenOrNull", Seq("__h", "__t"),
      """CASE WHEN __t RLIKE
                '^[^\\x00-\\x2F\\x3A-\\x40\\x5B-\\x60\\x7B-\\x7F]+$'
              THEN array_contains(
                split(__h, '[\\x00-\\x2F\\x3A-\\x40\\x5B-\\x60\\x7B-\\x7F]+'),
                __t)
              ELSE NULL END""")
    // geohashesInBox: every precision-p geohash cell INTERSECTING the
    // box, sorted (CH documents the order as unspecified). Covering
    // semantics — geohashEncode(p) of ANY point inside the box is
    // always a member, the property cell-join blocking relies on
    // (exact CH behavior for boxes ending exactly on cell edges may
    // include one fewer boundary cell). Pure grid arithmetic over the
    // codegen'd builtins: lon cells are 2^ceil(5p/2), lat cells
    // 2^floor(5p/2), both index bounds clamped into range (a box
    // fully outside ±180/±90 returns empty — never a descending
    // sequence()). Loud cap at 100k cells per row — a wider cover
    // is a scale bug, not a query. Macro-expansion caveat: each
    // argument expression is spliced into several occurrences
    // (codegen's subexpression elimination dedupes deterministic
    // args; a NON-deterministic argument like rand() would be
    // re-evaluated per occurrence — pass it through a column first).
    macroFn("geohashesInBox",
      Seq("__lo1", "__la1", "__lo2", "__la2", "__p"),
      """CASE
           WHEN __p < 1 OR __p > 12
             THEN raise_error(concat('geohashesInBox: precision ',
                    CAST(__p AS STRING), ' out of the geohash range 1..12'))
           WHEN __lo1 > __lo2 OR __la1 > __la2
             OR __lo1 > 180.0 OR __lo2 < -180.0
             OR __la1 > 90.0 OR __la2 < -90.0 THEN array()
           WHEN (LEAST(pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2) - 1,
                   GREATEST(0.0, FLOOR((__lo2 + 180.0) /
                     (360.0 / pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2)))))
                 - LEAST(pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2) - 1,
                   GREATEST(0.0, FLOOR((__lo1 + 180.0) /
                     (360.0 / pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2))))) + 1)
                * (LEAST(pow(2.0, CAST(5 * __p AS INT) DIV 2) - 1,
                   GREATEST(0.0, FLOOR((__la2 + 90.0) /
                     (180.0 / pow(2.0, CAST(5 * __p AS INT) DIV 2)))))
                 - LEAST(pow(2.0, CAST(5 * __p AS INT) DIV 2) - 1,
                   GREATEST(0.0, FLOOR((__la1 + 90.0) /
                     (180.0 / pow(2.0, CAST(5 * __p AS INT) DIV 2))))) + 1)
                > 100000.0
             THEN raise_error(concat('geohashesInBox: box covers more than ',
                    '100000 precision-', CAST(__p AS STRING),
                    ' cells - use a coarser precision'))
           ELSE array_sort(array_distinct(flatten(transform(
             sequence(
               CAST(LEAST(pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2) - 1,
                 GREATEST(0.0, FLOOR((__lo1 + 180.0) /
                   (360.0 / pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2))))) AS BIGINT),
               CAST(LEAST(pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2) - 1,
                 GREATEST(0.0, FLOOR((__lo2 + 180.0) /
                   (360.0 / pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2))))) AS BIGINT)),
             i -> transform(
               sequence(
                 CAST(LEAST(pow(2.0, CAST(5 * __p AS INT) DIV 2) - 1,
                   GREATEST(0.0, FLOOR((__la1 + 90.0) /
                     (180.0 / pow(2.0, CAST(5 * __p AS INT) DIV 2))))) AS BIGINT),
                 CAST(LEAST(pow(2.0, CAST(5 * __p AS INT) DIV 2) - 1,
                   GREATEST(0.0, FLOOR((__la2 + 90.0) /
                     (180.0 / pow(2.0, CAST(5 * __p AS INT) DIV 2))))) AS BIGINT)),
               j -> geohash_encode(
                 (CAST(i AS DOUBLE) + 0.5) *
                   (360.0 / pow(2.0, CAST((5 * __p + 1) AS INT) DIV 2)) - 180.0,
                 (CAST(j AS DOUBLE) + 0.5) *
                   (180.0 / pow(2.0, CAST(5 * __p AS INT) DIV 2)) - 90.0,
                 CAST(__p AS INT)))))))
         END""")
    reg("cosineDistance")(c =>
      // accept whatever numeric array the user wrote (decimal/double
      // literals included) — the codegen expression wants array<float>
      Subtract(Literal(1.0), CosineSimilarity(
        Cast(c(0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
        Cast(c(1), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))))

    // ---- wave-3 breadth (probe-driven gaps) -------------------------
    def fnu(n: String, args: Expression*): Expression =
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq(n), args.toSeq, isDistinct = false)

    // URL family completions
    macroFn("protocol", Seq("__u"), "parse_url(__u, 'PROTOCOL')")
    macroFn("extractURLParameter", Seq("__u", "__p"),
      "coalesce(parse_url(__u, 'QUERY', __p), '')")
    macroFn("cutFragment", Seq("__u"), "regexp_replace(__u, '#.*$', '')")
    macroFn("queryStringAndFragment", Seq("__u"),
      """concat(coalesce(parse_url(__u, 'QUERY'), ''),
                CASE WHEN parse_url(__u, 'REF') IS NULL THEN ''
                     ELSE concat('#', parse_url(__u, 'REF')) END)""")

    // JSON completions
    reg("JSONExtractBool")(c =>
      Cast(GetJsonObject(c.head, jsonPath(c.tail, "JSONExtractBool")),
        BooleanType))
    reg("JSONLength") { c =>
      val tgt = if (c.size == 1) c.head
        else GetJsonObject(c.head, jsonPath(c.tail, "JSONLength"))
      Cast(Coalesce(Seq(fnu("json_array_length", tgt),
        fnu("size", fnu("json_object_keys", tgt)), Literal(0))), LongType)
    }
    // simpleJSON*/visitParam*: CH scans for the field without a full
    // parse; mapped to get_json_object on the TOP-LEVEL key — same
    // answer on flat objects, documented drift on nested dup keys
    def simpleJson(cast: Option[DataType]): Seq[Expression] => Expression =
      c => {
        val e = GetJsonObject(c(0), jsonPath(Seq(c(1)), "simpleJSON"))
        cast.map(Cast(e, _)).getOrElse(e)
      }
    Seq("simpleJSONExtractString" -> None,
      "simpleJSONExtractRaw" -> None,
      "simpleJSONExtractInt" -> Some(LongType),
      "simpleJSONExtractUInt" -> Some(LongType),
      "simpleJSONExtractFloat" -> Some(DoubleType),
      "simpleJSONExtractBool" -> Some(BooleanType)).foreach { case (n, t) =>
      reg(n)(simpleJson(t))
      reg(n.replace("simpleJSON", "visitParam"))(simpleJson(t))
    }
    reg("simpleJSONHas")(c =>
      IsNotNull(GetJsonObject(c(0), jsonPath(Seq(c(1)), "simpleJSONHas"))))
    reg("visitParamHas")(c =>
      IsNotNull(GetJsonObject(c(0), jsonPath(Seq(c(1)), "visitParamHas"))))

    // array completions
    macroFn("arrayProduct", Seq("__a"),
      "aggregate(__a, CAST(1.0 AS DOUBLE), (acc, x) -> acc * CAST(x AS DOUBLE))")
    // per-element occurrence rank within its prefix (CH semantics)
    macroFn("arrayEnumerateUniq", Seq("__a"),
      "transform(__a, (x, i) -> size(filter(slice(__a, 1, i + 1), v -> v <=> x)))")
    // CH returns the element-type default when nothing matches; NULL is
    // the Spark-typed equivalent (documented drift). Like arrayCount
    // above: a builder that RECEIVES a lambda must RETURN a higher-order
    // function at the ROOT, so these fold with ArrayAggregate — acc is
    // an element-typed array used as an option (empty = not found yet).
    def chLambda(name: String, e: Expression): LambdaFunction = e match {
      case l: LambdaFunction => l
      case other => throw new IllegalArgumentException(
        s"$name needs a lambda first (CH argument order), got ${other.sql}")
    }
    def arrayPick(name: String, reversed: Boolean): Unit = reg(name) { c =>
      val f = chLambda(name, c(0))
      val acc = UnresolvedNamedLambdaVariable(Seq("__acc"))
      val fin = UnresolvedNamedLambdaVariable(Seq("__fin"))
      val merge = LambdaFunction(
        If(GreaterThan(Size(acc), Literal(0)), acc,
          If(Coalesce(Seq(Cast(f.function, BooleanType), Literal(false))),
            CreateArray(Seq(f.arguments.head)), acc)),
        acc +: f.arguments)
      ArrayAggregate(
        if (reversed) Reverse(c(1)) else c(1),
        Slice(c(1), Literal(1), Literal(0)), merge,
        LambdaFunction(
          ElementAt(fin, Literal(1), None, failOnError = false), Seq(fin)))
    }
    arrayPick("arrayFirst", reversed = false)
    arrayPick("arrayLast", reversed = true)
    // index forms fold (found_idx, position) through an int-pair acc
    def arrayPickIndex(name: String, last: Boolean): Unit = reg(name) { c =>
      val f = chLambda(name, c(0))
      val acc = UnresolvedNamedLambdaVariable(Seq("__acc"))
      val fin = UnresolvedNamedLambdaVariable(Seq("__fin"))
      def at(a: Expression, i: Int): Expression =
        ElementAt(a, Literal(i), None, failOnError = false)
      val hit = Coalesce(Seq(Cast(f.function, BooleanType), Literal(false)))
      val pos = Add(at(acc, 2), Literal(1))
      val keepFound = if (last) hit else
        And(hit, EqualTo(at(acc, 1), Literal(0)))
      val merge = LambdaFunction(
        If(keepFound, CreateArray(Seq(pos, pos)),
          CreateArray(Seq(at(acc, 1), pos))),
        acc +: f.arguments)
      ArrayAggregate(c(1), CreateArray(Seq(Literal(0), Literal(0))), merge,
        LambdaFunction(at(fin, 1), Seq(fin)))
    }
    arrayPickIndex("arrayFirstIndex", last = false)
    arrayPickIndex("arrayLastIndex", last = true)

    // bit-test family; rotates are 64-bit width (CH rotates within the
    // argument's own integer width — documented drift below 64 bits)
    def bitTestFold(name: String, or: Boolean): Unit = reg(name) { c =>
      require(c.size >= 2, s"$name(x, bit…)")
      c.tail.map[Expression](p => EqualTo(
        BitwiseAnd(ShiftRight(Cast(c.head, LongType), Cast(p, IntegerType)),
          Literal(1L)), Literal(1L)))
        .reduce((a, b) => if (or) Or(a, b) else And(a, b))
    }
    bitTestFold("bitTestAll", or = false)
    bitTestFold("bitTestAny", or = true)
    macroFn("bitRotateLeft", Seq("__x", "__n"),
      """shiftleft(CAST(__x AS BIGINT), CAST(__n AS INT)) |
         shiftrightunsigned(CAST(__x AS BIGINT), 64 - CAST(__n AS INT))""")
    macroFn("bitRotateRight", Seq("__x", "__n"),
      """shiftrightunsigned(CAST(__x AS BIGINT), CAST(__n AS INT)) |
         shiftleft(CAST(__x AS BIGINT), 64 - CAST(__n AS INT))""")

    // CH geoDistance is ellipsoid-corrected; the haversine sphere tree
    // (same as greatCircleDistance above) is within ~0.5% — documented
    reg("geoDistance") { c =>
      val Seq(lon1, lat1, lon2, lat2) = c.map(e => Cast(e, DoubleType))
      def rad(e: Expression) = ToRadians(e)
      val dLat = Divide(rad(Subtract(lat2, lat1)), Literal(2.0))
      val dLon = Divide(rad(Subtract(lon2, lon1)), Literal(2.0))
      val h = Add(
        Multiply(Sin(dLat), Sin(dLat)),
        Multiply(Multiply(Cos(rad(lat1)), Cos(rad(lat2))),
          Multiply(Sin(dLon), Sin(dLon))))
      Multiply(Literal(2.0 * 6371000.0), Asin(Sqrt(h)))
    }

    macroFn("alphaTokens", Seq("__s"),
      "filter(split(__s, '[^A-Za-z]+'), t -> t != '')")
    // RE2-subset regex battery over an array of patterns (CH hyperscan
    // family — semantics here are plain per-pattern regex, documented)
    macroFn("multiMatchAny", Seq("__s", "__ps"),
      "exists(__ps, p -> __s RLIKE p)")
    macroFn("multiSearchAny", Seq("__h", "__ns"),
      "exists(__ns, n -> instr(__h, n) > 0)")
    macroFn("multiMatchAnyIndex", Seq("__s", "__ps"),
      """coalesce(element_at(filter(transform(__ps, (p, i) ->
           IF(__s RLIKE p, i + 1, 0)), v -> v > 0), 1), 0)""")
    // roundDown: greatest ladder element ≤ x, else the FIRST element
    macroFn("roundDown", Seq("__x", "__arr"),
      "coalesce(array_max(filter(__arr, v -> v <= __x)), element_at(__arr, 1))")

    // extractAll: CH returns whole-pattern matches for a groupless
    // pattern, group-1 matches otherwise — Spark's regexp_extract_all
    // hardcodes idx 1, so pick the index from the LITERAL pattern
    reg("extractAll") { c =>
      require(c.size == 2 || c.size == 3,
        "extractAll(s, 'pattern'[, groupIdx])")
      if (c.size == 3) RegExpExtractAll(c(0), c(1), c(2))
      else {
        val idx =
          if (c(1).foldable &&
              java.util.regex.Pattern.compile(c(1).eval().toString)
                .matcher("").groupCount() == 0) 0
          else 1
        RegExpExtractAll(c.head, c(1), Literal(idx))
      }
    }

    // extractGroups: group count is derived from the LITERAL pattern at
    // plan time, so the tree stays fully codegen'd builtins
    reg("extractGroups") { c =>
      require(c.size == 2 && c(1).foldable,
        "extractGroups(s, 'pattern') needs a literal pattern")
      val pat = c(1).eval().toString
      val n = java.util.regex.Pattern.compile(pat).matcher("").groupCount()
      If(RLike(c.head, c(1)),
        CreateArray((1 to n).map(i => RegExpExtract(c.head, c(1), Literal(i)))),
        Literal.create(Array.empty[String],
          org.apache.spark.sql.types.ArrayType(StringType)))
    }

    // toInterval* constructors (CH interval values). Date + day-time
    // interval yields TIMESTAMP in Spark (CH keeps Date) — documented
    macroFn("toIntervalSecond", Seq("__n"),
      "make_dt_interval(0, 0, 0, CAST(__n AS DOUBLE))")
    macroFn("toIntervalMinute", Seq("__n"),
      "make_dt_interval(0, 0, CAST(__n AS INT), 0)")
    macroFn("toIntervalHour", Seq("__n"),
      "make_dt_interval(0, CAST(__n AS INT), 0, 0)")
    macroFn("toIntervalDay", Seq("__n"),
      "make_dt_interval(CAST(__n AS INT), 0, 0, 0)")
    macroFn("toIntervalWeek", Seq("__n"),
      "make_dt_interval(7 * CAST(__n AS INT), 0, 0, 0)")
    macroFn("toIntervalMonth", Seq("__n"), "make_ym_interval(0, CAST(__n AS INT))")
    macroFn("toIntervalQuarter", Seq("__n"),
      "make_ym_interval(0, 3 * CAST(__n AS INT))")
    macroFn("toIntervalYear", Seq("__n"), "make_ym_interval(CAST(__n AS INT), 0)")

    // cityHash64/farmHash64/metroHash64/wyHash64: md5-derived 60-bit
    // stand-ins under the repo's cross-engine hash convention — the
    // 60-bit prefix of md5(salt || '\x01' || args...), '\x01'-joined —
    // deterministic and well-mixed for sharding/sampling keys, NOT
    // bit-parity with CH (sipHash64/intHash64 above are bit-parity).
    // DOCUMENTED DIVERGENCE: SURVEY §8 known-divergences; construction
    // pinned by known answers in ChCompatSpec.
    def md5Hash64(salt: String): Seq[Expression] => Expression = c => {
      val s = ConcatWs(Literal("") +: Literal(salt) +:
        c.map(Cast(_, StringType)))
      Cast(Conv(Substring(Md5(Cast(s,
        org.apache.spark.sql.types.BinaryType)),
        Literal(1), Literal(15)), Literal(16), Literal(10)), LongType)
    }
    reg("cityHash64")(md5Hash64("city"))
    reg("farmHash64")(md5Hash64("farm"))
    reg("metroHash64")(md5Hash64("metro"))
    reg("wyHash64")(md5Hash64("wy"))
    // jumpConsistentHash(key, buckets) — Lamping & Veach's jump
    // consistent hash, implemented EXACTLY (it is a published,
    // fully-specified algorithm on Int64, so this is bit-parity with
    // CH, not a stand-in). The property that matters for resharding
    // 100 TB: growing n → n+1 moves only ~1/(n+1) of the keys.
    spark.udf.register(gd("jumpConsistentHash"), (key: Long, buckets: Int) => {
      require(buckets > 0, "jumpConsistentHash: buckets must be positive")
      var k = key; var b = -1L; var j = 0L
      while (j < buckets) {
        b = j
        k = k * 2862933555777941757L + 1
        j = ((b + 1) * (2147483648L.toDouble / ((k >>> 33) + 1).toDouble)).toLong
      }
      b.toInt
    })

    // CH char(n…): one string from N code points (Spark's is 1-arg)
    reg("char") { c =>
      require(c.nonEmpty, "char(n, …)")
      Concat(c.map(e => Chr(Cast(e, LongType))))
    }
    // toFixedString pads with NUL to width n; CH errors when the value
    // is LONGER than n — rpad truncates instead (documented drift)
    macroFn("toLowCardinality", Seq("__x"), "__x")

    // ---- wave 10: URL subdomains, julian/era day counts, snowflake
    //      IDs, query normalization, capture-group extraction, array
    //      set similarity, bitmask listing, z-test for proportions ----
    macroFn("monthName", Seq("__d"), "date_format(__d, 'MMMM')")
    // arrayPartialSort(limit, arr): CH's contract is "first `limit`
    // elements sorted, remainder unspecified" — the fully sorted
    // array satisfies it and is the only deterministic choice
    macroFn("arrayJaccardIndex", Seq("__a", "__b"),
      """CAST(size(array_intersect(__a, __b)) AS DOUBLE) /
         CAST(size(array_union(__a, __b)) AS DOUBLE)""")
    // firstSignificantSubdomain('https://news.clickhouse.com.tr/') =
    // 'clickhouse' — CH's heuristic: if the second-to-last host label
    // is a generic second-level label, step one label further left
    def fssParts(u: String): String =
      s"split(parse_url($u, 'HOST'), '\\\\.')"
    val fssListed = "('com', 'net', 'org', 'co', 'biz', 'gov', 'mil', 'edu', 'info')"
    macroFn("firstSignificantSubdomain", Seq("__u"),
      s"""CASE WHEN size(${fssParts("__u")}) >= 3
                AND element_at(${fssParts("__u")}, -2) IN $fssListed
             THEN element_at(${fssParts("__u")}, -3)
           WHEN size(${fssParts("__u")}) >= 2
             THEN element_at(${fssParts("__u")}, -2)
           ELSE coalesce(parse_url(__u, 'HOST'), '') END""")
    macroFn("cutToFirstSignificantSubdomain", Seq("__u"),
      s"""CASE WHEN size(${fssParts("__u")}) >= 3
                AND element_at(${fssParts("__u")}, -2) IN $fssListed
             THEN array_join(slice(${fssParts("__u")}, -3, 3), '.')
           WHEN size(${fssParts("__u")}) >= 2
             THEN array_join(slice(${fssParts("__u")}, -2, 2), '.')
           ELSE coalesce(parse_url(__u, 'HOST'), '') END""")
    macroFn("domainWithoutWWW", Seq("__u"),
      "regexp_replace(parse_url(__u, 'HOST'), '^www\\\\.', '')")
    // Modified Julian Day epoch 1858-11-17; year-zero day counts use
    // the proleptic Gregorian calendar where year 0 is a leap year
    // (366 days), hence the +/-366 against Spark's 0001-01-01 floor
    macroFn("toModifiedJulianDay", Seq("__s"),
      "datediff(CAST(__s AS DATE), DATE'1858-11-17')")
    macroFn("fromModifiedJulianDay", Seq("__n"),
      "date_add(DATE'1858-11-17', CAST(__n AS INT))")
    macroFn("toDaysSinceYearZero", Seq("__d"),
      "datediff(CAST(__d AS DATE), DATE'0001-01-01') + 366")
    macroFn("fromDaysSinceYearZero", Seq("__n"),
      "date_add(DATE'0001-01-01', CAST(__n AS INT) - 366)")
    // Twitter snowflake: ms timestamp in bits 63..22, epoch 2010-11-04
    macroFn("snowflakeToDateTime", Seq("__i"),
      "timestamp_millis(shiftright(CAST(__i AS BIGINT), 22) + 1288834974657)")
    macroFn("dateTimeToSnowflake", Seq("__t"),
      "shiftleft(unix_millis(__t) - 1288834974657, 22)")
    // full 64-bit enumeration: bit 63 (the Int64 sign bit) yields the
    // component shiftleft(1,63) = Long.MIN_VALUE — the two's-complement
    // spelling of CH's UInt64 2^63 component; (n>>i)&1 extracts every
    // bit correctly under arithmetic shift, sign bit included
    macroFn("bitmaskToList", Seq("__n"),
      """array_join(filter(transform(sequence(0, 63),
           __i -> CASE WHEN (shiftright(CAST(__n AS BIGINT), __i) & 1) = 1
                       THEN CAST(shiftleft(CAST(1 AS BIGINT), __i) AS STRING) END),
           __x -> __x IS NOT NULL), ',')""")
    macroFn("bitmaskToArray", Seq("__n"),
      """filter(transform(sequence(0, 63),
           __i -> CASE WHEN (shiftright(CAST(__n AS BIGINT), __i) & 1) = 1
                       THEN shiftleft(CAST(1 AS BIGINT), __i) END),
           __x -> __x IS NOT NULL)""")
    // deltaSumTimestamp(v, ts): sum of positive deltas in TIMESTAMP
    // order — the sorted-pairs fold makes CH's "merge by stored ts"
    // semantics exact and order-independent at any executor count
    macroFn("deltaSumTimestamp", Seq("__v", "__ts"),
      """aggregate(
           array_sort(collect_list(struct(__ts AS t, CAST(__v AS DOUBLE) AS v))),
           struct(CAST(NULL AS DOUBLE) AS prev, CAST(0.0 AS DOUBLE) AS s),
           (__acc, __e) -> struct(__e.v AS prev,
             __acc.s + CASE WHEN __acc.prev IS NOT NULL AND __e.v > __acc.prev
                            THEN __e.v - __acc.prev ELSE 0.0 END AS s),
           __acc -> __acc.s)""")
    // ---- encryption / encoding families (bit-parity: AES and the
    //      base58/punycode codecs are fully-specified public
    //      algorithms, so javax.crypto / java.net.IDN match CH) ----
    locally {
      def cipher(mode: String, encrypt: Boolean, key: Array[Byte],
          iv: Array[Byte]): javax.crypto.Cipher = {
        val m = mode.toLowerCase(java.util.Locale.ROOT)
        val bits = m match {
          case s if s.startsWith("aes-128") => 16
          case s if s.startsWith("aes-192") => 24
          case s if s.startsWith("aes-256") => 32
          case other => throw new IllegalArgumentException(
            s"encrypt/decrypt: unsupported mode '$other'")
        }
        require(key.length >= bits,
          s"$mode needs a ${bits}-byte key, got ${key.length}")
        val k = new javax.crypto.spec.SecretKeySpec(key.take(bits), "AES")
        val dir = if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE
          else javax.crypto.Cipher.DECRYPT_MODE
        if (m.endsWith("-ecb")) {
          val c = javax.crypto.Cipher.getInstance("AES/ECB/PKCS5Padding")
          c.init(dir, k); c
        } else if (m.endsWith("-cbc")) {
          val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
          require(iv != null && iv.length >= 16, s"$mode needs a 16-byte iv")
          c.init(dir, k, new javax.crypto.spec.IvParameterSpec(iv.take(16))); c
        } else throw new IllegalArgumentException(
          s"encrypt/decrypt: unsupported block mode in '$mode' (ecb/cbc)")
      }
      def b(s: String): Array[Byte] =
        if (s == null) null else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      spark.udf.register(gd("graft_encrypt3"),
        (m: String, p: String, k: String) => cipher(m, true, b(k), null).doFinal(b(p)))
      spark.udf.register(gd("graft_encrypt4"),
        (m: String, p: String, k: String, iv: String) =>
          cipher(m, true, b(k), b(iv)).doFinal(b(p)))
      spark.udf.register(gd("graft_decrypt3"),
        (m: String, c: Array[Byte], k: String) =>
          new String(cipher(m, false, b(k), null).doFinal(c),
            java.nio.charset.StandardCharsets.UTF_8))
      spark.udf.register(gd("graft_decrypt4"),
        (m: String, c: Array[Byte], k: String, iv: String) =>
          new String(cipher(m, false, b(k), b(iv)).doFinal(c),
            java.nio.charset.StandardCharsets.UTF_8))
      spark.udf.register(gd("graft_trydecrypt3"),
        (m: String, c: Array[Byte], k: String) =>
          try new String(cipher(m, false, b(k), null).doFinal(c),
            java.nio.charset.StandardCharsets.UTF_8)
          catch { case _: Exception => null })
      spark.udf.register(gd("graft_trydecrypt4"),
        (m: String, c: Array[Byte], k: String, iv: String) =>
          try new String(cipher(m, false, b(k), b(iv)).doFinal(c),
            java.nio.charset.StandardCharsets.UTF_8)
          catch { case _: Exception => null })
      // CH signature: one name, optional trailing iv — dispatch by
      // arity onto the internal UDF registrations
      def arityFn(name: String, n3: String, n4: String): Unit =
        reg(name) { c =>
          require(c.size == 3 || c.size == 4,
            s"$name(mode, data, key[, iv]) — got ${c.size} args")
          org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            if (c.size == 3) n3 else n4, c, isDistinct = false)
        }
      arityFn("encrypt", "graft_encrypt3", "graft_encrypt4")
      arityFn("decrypt", "graft_decrypt3", "graft_decrypt4")
      arityFn("tryDecrypt", "graft_trydecrypt3", "graft_trydecrypt4")
      // MySQL mode (what CH's aes_*_mysql implement): overlong keys
      // XOR-fold cyclically into the key width, short keys zero-pad —
      // NOT the strict exact-length contract above
      def foldKey(key: Array[Byte], mode: String): Array[Byte] = {
        val bits = mode.toLowerCase(java.util.Locale.ROOT) match {
          case s0 if s0.startsWith("aes-128") => 16
          case s0 if s0.startsWith("aes-192") => 24
          case s0 if s0.startsWith("aes-256") => 32
          case other => throw new IllegalArgumentException(
            s"aes_*_mysql: unsupported mode '$other'")
        }
        val out = new Array[Byte](bits)
        var i = 0
        while (i < key.length) { out(i % bits) = (out(i % bits) ^ key(i)).toByte; i += 1 }
        out
      }
      spark.udf.register(gd("graft_encrypt_my3"),
        (m: String, p: String, k: String) =>
          cipher(m, true, foldKey(b(k), m), null).doFinal(b(p)))
      spark.udf.register(gd("graft_encrypt_my4"),
        (m: String, p: String, k: String, iv: String) =>
          cipher(m, true, foldKey(b(k), m), b(iv)).doFinal(b(p)))
      spark.udf.register(gd("graft_decrypt_my3"),
        (m: String, c: Array[Byte], k: String) =>
          new String(cipher(m, false, foldKey(b(k), m), null).doFinal(c),
            java.nio.charset.StandardCharsets.UTF_8))
      spark.udf.register(gd("graft_decrypt_my4"),
        (m: String, c: Array[Byte], k: String, iv: String) =>
          new String(cipher(m, false, foldKey(b(k), m), b(iv)).doFinal(c),
            java.nio.charset.StandardCharsets.UTF_8))
      arityFn("aes_encrypt_mysql", "graft_encrypt_my3", "graft_encrypt_my4")
      arityFn("aes_decrypt_mysql", "graft_decrypt_my3", "graft_decrypt_my4")
    }
    locally {
      val alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
      spark.udf.register(gd("base58Encode"), (s: String) => {
        if (s == null) null
        else {
          val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val zeros = bytes.takeWhile(_ == 0).length
          var n = BigInt(1, bytes)
          val sb = new StringBuilder
          while (n > 0) { sb += alpha(((n % 58).toInt)); n /= 58 }
          ("1" * zeros) + sb.reverse.toString
        }
      })
      spark.udf.register(gd("base58Decode"), (s: String) => {
        if (s == null) null
        else {
          val zeros = s.takeWhile(_ == '1').length
          var n = BigInt(0)
          s.foreach { ch =>
            val d = alpha.indexOf(ch)
            require(d >= 0, s"base58Decode: invalid character '$ch'")
            n = n * 58 + d
          }
          val body = if (n == 0) Array.empty[Byte]
            else n.toByteArray.dropWhile(_ == 0)
          new String(Array.fill[Byte](zeros)(0) ++ body,
            java.nio.charset.StandardCharsets.UTF_8)
        }
      })
    }
    // idnaEncode/Decode are the IDN ('xn--' labelled) forms;
    // punycodeEncode/Decode are CH's RAW RFC 3492 bootstring over the
    // whole string (no prefix) — implemented below to the RFC
    // ('München' ⇄ 'Mnchen-3ya')
    spark.udf.register(gd("idnaEncode"),
      (s: String) => if (s == null) null else java.net.IDN.toASCII(s))
    spark.udf.register(gd("idnaDecode"),
      (s: String) => if (s == null) null else java.net.IDN.toUnicode(s))
    spark.udf.register(gd("tryIdnaEncode"), (s: String) =>
      if (s == null) null
      else try java.net.IDN.toASCII(s) catch { case _: Exception => "" })
    spark.udf.register(gd("punycodeEncode"),
      (s: String) => if (s == null) null else punycodeEncodeImpl(s))
    spark.udf.register(gd("punycodeDecode"),
      (s: String) => if (s == null) null else punycodeDecodeImpl(s))
    spark.udf.register(gd("tryPunycodeDecode"), (s: String) =>
      if (s == null) null
      else try punycodeDecodeImpl(s) catch { case _: Exception => "" })
    // ---- time-series family (CH's series* analytics) ----
    // Tukey fences: per-point outlier score — 0 inside
    // [q1 − 1.5·IQR, q3 + 1.5·IQR], signed distance beyond the fence
    // otherwise (quartiles by linear interpolation over the sorted
    // series)
    spark.udf.register(gd("seriesOutliersDetectTukey"), (xs: Seq[Double]) => {
      if (xs == null || xs.size < 4) Seq.empty[Double]
      else {
        val s = xs.sorted
        def q(p: Double): Double = {
          val r = p * (s.size - 1)
          val lo = r.toInt
          val hi = math.min(lo + 1, s.size - 1)
          s(lo) + (r - lo) * (s(hi) - s(lo))
        }
        val q1 = q(0.25); val q3 = q(0.75); val iqr = q3 - q1
        val (lo, hi) = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
        xs.map(x => if (x < lo) x - lo else if (x > hi) x - hi else 0.0)
      }
    })
    // seriesDecomposeSTL(series, period) → [seasonal, trend, residual]
    // [CH docs: time-series-functions#seriesdecomposestl]. CH runs the
    // actual STL loess loop; the deterministic substitution here is
    // CLASSICAL additive decomposition [published textbook method]:
    // trend = centered moving average over one period (edges extended
    // with the nearest computed value), seasonal = per-phase mean of
    // the detrended series re-centered to sum 0, residual = the rest.
    // Same contract (three equal-length arrays summing back to the
    // series), documented numeric divergence from loess STL.
    spark.udf.register(gd("seriesDecomposeSTL"),
      (xs: Seq[Double], period: Int) => {
        if (xs == null || period < 2 || xs.size < 2 * period)
          Seq.empty[Seq[Double]]
        else {
          val n = xs.size
          val half = period / 2
          val trendCore = new Array[Double](n)
          // the centered window spans i−half … i+half (period points
          // for odd periods, period+1 with half-weights for even)
          val lo0 = half
          val hi0 = n - 1 - half
          var i = lo0
          while (i <= hi0) {
            // centered MA: even periods use the standard 2×MA weights
            var s = 0.0
            if (period % 2 == 1) {
              var j = i - half
              while (j <= i + half) { s += xs(j); j += 1 }
              trendCore(i) = s / period
            } else {
              s = (xs(i - half) + xs(i - half + period)) / 2.0
              var j = i - half + 1
              while (j < i - half + period) { s += xs(j); j += 1 }
              trendCore(i) = s / period
            }
            i += 1
          }
          val trend = (0 until n).map(j =>
            trendCore(math.max(lo0, math.min(hi0, j)))).toArray
          val detr = (0 until n).map(j => xs(j) - trend(j))
          // seasonal indices from INTERIOR positions only — the edge
          // trend is clamped (approximate) and would bias the phases
          val phaseMean = (0 until period).map { p =>
            val vals = (p until n by period).filter(j => j >= lo0 && j <= hi0)
              .map(detr)
            if (vals.isEmpty) 0.0 else vals.sum / vals.size
          }
          val center = phaseMean.sum / period
          val seasonal = (0 until n).map(j => phaseMean(j % period) - center)
          val resid = (0 until n).map(j => xs(j) - trend(j) - seasonal(j))
          Seq(seasonal, trend.toSeq, resid)
        }
      })
    // arrayNormalizedGini(predicted, label) → (giniPred, giniLabel,
    // normalized) [CH 25.x docs: the standard normalized-Gini used in
    // ranking competitions, public formula]: gini(a, by) sorts `a` by
    // `by` descending (ties by original order) and measures the
    // cumulative-share area vs the diagonal; normalized = g(label,
    // pred) / g(label, label).
    spark.udf.register(gd("arrayNormalizedGini"),
      (pred: Seq[Double], label: Seq[Double]) => {
        def gini(actual: Seq[Double], by: Seq[Double]): Double = {
          val n = actual.size
          val order = actual.indices.sortBy(i => (-by(i), i))
          val tot = actual.sum
          var cum = 0.0; var area = 0.0
          order.foreach { i => cum += actual(i); area += cum / tot }
          (area - (n + 1) / 2.0) / n
        }
        if (pred == null || label == null || pred.size != label.size ||
            pred.isEmpty) (Double.NaN, Double.NaN, Double.NaN)
        else {
          val gp = gini(label, pred)
          val gl = gini(label, label)
          (gp, gl, gp / gl)
        }
      })
    // ---- wave 33 (r12): string/byte analysis + parse inverses ----
    // tupleHammingDistance: positionwise inequality count (CH
    // tuple-functions); same literal-splice model as tuplePlus
    reg("tupleHammingDistance") { c =>
      require(c.size == 2, "tupleHammingDistance(t1, t2)")
      (c(0), c(1)) match {
        case (a: CreateNamedStruct, b: CreateNamedStruct)
            if a.valExprs.size == b.valExprs.size =>
          a.valExprs.zip(b.valExprs)
            .map { case (x, y) =>
              Cast(Not(EqualTo(x, y)), IntegerType): Expression }
            .reduce(Add(_, _))
        case _ => throw new IllegalArgumentException(
          "tupleHammingDistance expects two equal-size tuple literals")
      }
    }
    spark.udf.register(gd("byteHammingDistance"), (a: String, b: String) => {
      if (a == null || b == null) null
      else {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val common = math.min(x.length, y.length)
        var d = math.abs(x.length - y.length).toLong
        var i = 0
        while (i < common) { if (x(i) != y(i)) d += 1; i += 1 }
        java.lang.Long.valueOf(d)
      }
    })
    spark.udf.register(gd("stringBytesUniq"), (s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(s.getBytes(
        java.nio.charset.StandardCharsets.UTF_8).distinct.length.toLong))
    spark.udf.register(gd("stringBytesEntropy"), (s: String) => {
      if (s == null) null
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (bytes.isEmpty) java.lang.Double.valueOf(0.0)
        else {
          val n = bytes.length.toDouble
          val e = bytes.groupBy(identity).values.map { g =>
            val p = g.length / n
            -p * (math.log(p) / math.log(2))
          }.toSeq.sorted.sum // sorted: canonical FP order
          java.lang.Double.valueOf(e)
        }
      }
    })
    // OrNull picks: the base arrayFirst/arrayLast builders already
    // yield NULL on no-match, so the OrNull spellings reuse them
    // (lambdas cannot pass through a parse-once macro — these must be
    // expression builders)
    arrayPick("arrayFirstOrNull", reversed = false)
    arrayPick("arrayLastOrNull", reversed = true)
    // assume-sorted is an optimizer hint in CH — same answer
    macroFn("indexOfAssumeSorted", Seq("__a", "__x"),
      "coalesce(array_position(__a, __x), 0)")
    macroFn("firstLine", Seq("__s"), "element_at(split(__s, '\\n'), 1)")
    // parseReadableSize: inverse of formatReadableSize — binary (KiB)
    // and decimal (KB) units, case-insensitive, fractional values
    locally {
      val units = Map("b" -> 1d, "kib" -> 1024d, "mib" -> 1024d * 1024,
        "gib" -> math.pow(1024, 3), "tib" -> math.pow(1024, 4),
        "pib" -> math.pow(1024, 5), "eib" -> math.pow(1024, 6),
        "kb" -> 1e3, "mb" -> 1e6, "gb" -> 1e9, "tb" -> 1e12,
        "pb" -> 1e15, "eb" -> 1e18)
      val re = """(?i)^\s*([0-9]*\.?[0-9]+)\s*([a-z]+)\s*$""".r
      def parse(s: String): Option[Long] = s match {
        case re(num, unit) =>
          units.get(unit.toLowerCase(java.util.Locale.ROOT))
            .map(m => math.ceil(num.toDouble * m).toLong)
        case _ => None
      }
      spark.udf.register(gd("parseReadableSize"), (s: String) =>
        if (s == null) null
        else parse(s).map(java.lang.Long.valueOf).getOrElse(
          throw new IllegalArgumentException(
            s"parseReadableSize: cannot parse '$s'")))
      spark.udf.register(gd("parseReadableSizeOrZero"), (s: String) =>
        if (s == null) null
        else java.lang.Long.valueOf(parse(s).getOrElse(0L)))
      spark.udf.register(gd("parseReadableSizeOrNull"), (s: String) =>
        if (s == null) null
        else parse(s).map(java.lang.Long.valueOf).orNull)
    }
    // parseTimeDelta('1h 30m') → seconds (CH other-functions)
    spark.udf.register(gd("parseTimeDelta"), (s: String) => {
      if (s == null) null
      else {
        val re = """([0-9]*\.?[0-9]+)\s*([a-zA-Z]+)""".r
        val m = Map("ns" -> 1e-9, "us" -> 1e-6, "ms" -> 1e-3,
          "s" -> 1.0, "sec" -> 1.0, "second" -> 1.0, "seconds" -> 1.0,
          "m" -> 60.0, "min" -> 60.0, "minute" -> 60.0, "minutes" -> 60.0,
          "h" -> 3600.0, "hr" -> 3600.0, "hour" -> 3600.0, "hours" -> 3600.0,
          "d" -> 86400.0, "day" -> 86400.0, "days" -> 86400.0,
          "w" -> 604800.0, "week" -> 604800.0, "weeks" -> 604800.0)
        val hits = re.findAllMatchIn(s).toSeq
        require(hits.nonEmpty, s"parseTimeDelta: cannot parse '$s'")
        java.lang.Double.valueOf(hits.map { h =>
          val u = h.group(2).toLowerCase(java.util.Locale.ROOT)
          h.group(1).toDouble * m.getOrElse(u,
            throw new IllegalArgumentException(
              s"parseTimeDelta: unknown unit '${h.group(2)}'"))
        }.sum)
      }
    })
    // UUID utilities + snowflake mint
    macroFn("toUUIDOrNull", Seq("__s"),
      """CASE WHEN __s RLIKE
           '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$'
         THEN lower(__s) END""")
    reg("serverUUID") { c =>
      require(c.isEmpty, "serverUUID() takes no arguments")
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
        serverUuidConst), StringType)
    }
    spark.udf.register(gd("generateSnowflakeID"),
      org.apache.spark.sql.functions.udf(() => {
        // 41-bit ms timestamp | 10-bit node | 12-bit sequence — the
        // published snowflake layout; node+seq from thread-local
        // randomness (uniqueness, not coordination, is the contract)
        val ts = System.currentTimeMillis() - 1288834974657L
        val r = java.util.concurrent.ThreadLocalRandom.current()
        (ts << 22) | r.nextLong(1 << 22)
      }).asNondeterministic())
    // URL/path pieces
    macroFn("basename", Seq("__s"),
      "element_at(split(__s, '/'), -1)")
    macroFn("pathFull", Seq("__u"),
      """CASE WHEN locate('/', __u,
              CASE WHEN locate('://', __u) > 0
                   THEN locate('://', __u) + 3 ELSE 1 END) = 0 THEN ''
         ELSE substring(__u, locate('/', __u,
              CASE WHEN locate('://', __u) > 0
                   THEN locate('://', __u) + 3 ELSE 1 END)) END""")
    // XML/HTML component codecs + tag stripping — the HTML→text step
    // of a pretraining pipeline (script/style dropped, entities
    // decoded, whitespace collapsed)
    spark.udf.register(gd("encodeXMLComponent"), (s: String) =>
      if (s == null) null
      else s.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;").replace("\"", "&quot;").replace("'", "&apos;"))
    def decodeEntities(s: String): String = {
      val numRe = """&#(x?)([0-9a-fA-F]+);""".r
      val named = Map("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&apos;" -> "'", "&nbsp;" -> " ")
      val step1 = numRe.replaceAllIn(s, mm => {
        val cp = Integer.parseInt(mm.group(2), if (mm.group(1).isEmpty) 10 else 16)
        scala.util.matching.Regex.quoteReplacement(new String(Character.toChars(cp)))
      })
      named.foldLeft(step1) { case (acc, (k, v)) => acc.replace(k, v) }
    }
    spark.udf.register(gd("decodeXMLComponent"),
      (s: String) => if (s == null) null else decodeEntities(s))
    spark.udf.register(gd("decodeHTMLComponent"),
      (s: String) => if (s == null) null else decodeEntities(s))
    spark.udf.register(gd("extractTextFromHTML"), (s: String) =>
      if (s == null) null
      else decodeEntities(
        s.replaceAll("(?is)<(script|style)\\b.*?</\\1\\s*>", " ")
          .replaceAll("(?s)<!--.*?-->", " ")
          .replaceAll("(?s)<[^>]*>", " "))
        .replaceAll("\\s+", " ").trim)
    toDec("toDecimal256", 38) // DECIMAL(38) is Spark's precision cap — documented
    macroFn("countSubstringsCaseInsensitive", Seq("__h", "__n"),
      "countSubstrings(lower(__h), lower(__n))")
    macroFn("hasTokenCaseInsensitive", Seq("__h", "__t"),
      "hasToken(lower(__h), lower(__t))")
    macroFn("multiMatchAllIndices", Seq("__s", "__ps"),
      """filter(transform(__ps, (p, i) -> IF(__s RLIKE p, i + 1, 0)),
                v -> v > 0)""")
    // single-process engine: one shard, the whole cluster
    macroFn("shardNum", Seq(), "CAST(1 AS INT)")
    macroFn("shardCount", Seq(), "CAST(1 AS INT)")
    macroFn("currentProfiles", Seq(), "array('default')")
    macroFn("enabledProfiles", Seq(), "array('default')")
    macroFn("defaultProfiles", Seq(), "array('default')")
    macroFn("enabledRoles", Seq(), "array('default')")
    macroFn("defaultRoles", Seq(), "array('default')")

    // getSetting('name'): reads the session's applied CH settings
    // (SET / SETTINGS store under graft.ch.setting.*) at analysis
    // time — the SET-before-SELECT reading CH documents
    def settingLit(c: Seq[Expression], fn: String): Option[String] = {
      val name = c.head match {
        case Literal(s, StringType) if s != null =>
          s.toString.toLowerCase(java.util.Locale.ROOT)
        case other => throw new IllegalArgumentException(
          s"$fn: the setting name must be a string literal, got ${other.sql}")
      }
      spark.conf.getOption(s"graft.ch.setting.$name")
    }
    reg("getSetting") { c =>
      require(c.size == 1, "getSetting('name')")
      val v = settingLit(c, "getSetting").getOrElse(
        throw new IllegalArgumentException(
          s"getSetting: unknown setting ${c.head.sql} — SET it first or " +
            "use getSettingOrDefault"))
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
        StringType)
    }
    reg("getSettingOrDefault") { c =>
      require(c.size == 2, "getSettingOrDefault('name', default)")
      settingLit(c, "getSettingOrDefault")
        .map(v => Literal(org.apache.spark.unsafe.types.UTF8String
          .fromString(v), StringType): Expression)
        .getOrElse(c(1))
    }
    // joinGet('table', 'valueCol', key) [CH docs: other-functions
    // #joinget — lookups into a Join-engine table]: here ANY named
    // table works; the join key is the table's FIRST column (the Join
    // engine's declared key). Same plan-shipped literal-map model as
    // dictGet, capped (in-RAM contract both sides).
    // CH contract: joinGet falls back to the value TYPE's default on a
    // missing key (0 / '' / false — join_use_nulls off, the CH
    // default); joinGetOrNull is the NULL-returning spelling. The
    // collected map is cached per (session, table, column, plan
    // fingerprint) — the builder runs on EVERY analysis of a query
    // using it, and re-collecting up to 100k rows each time was a
    // per-query driver cost. A mutation snapshots into a NEW path and
    // re-points the view, changing the fingerprint, so stale maps are
    // never served.
    reg("joinGet") { c =>
      require(c.size == 3, "joinGet('table', 'valueCol', key)")
      val (m, keyT, valT) = joinGetMapLit(spark, c(0), c(1))
      Coalesce(Seq(
        ElementAt(m, Cast(c(2), keyT), None, failOnError = false),
        typeDefault(valT)))
    }
    reg("joinGetOrNull") { c =>
      require(c.size == 3, "joinGetOrNull('table', 'valueCol', key)")
      val (m, keyT, _) = joinGetMapLit(spark, c(0), c(1))
      ElementAt(m, Cast(c(2), keyT), None, failOnError = false)
    }

    // flattenTuple: nested tuple literals flatten to one level
    // [CH docs: tuple-functions#flattentuple]
    reg("flattenTuple") { c =>
      require(c.size == 1, "flattenTuple(tuple)")
      def flat(e: Expression): Seq[Expression] = e match {
        case s: CreateNamedStruct => s.valExprs.flatMap(flat)
        case other => Seq(other)
      }
      c.head match {
        case s: CreateNamedStruct => CreateStruct(flat(s).toIndexedSeq)
        case other => throw new IllegalArgumentException(
          s"flattenTuple expects a tuple literal, got ${other.sql}")
      }
    }
    // Dominant period via a naive DFT (O(n²) on one row's series —
    // the per-array scale CH aims this at): period = n / argmax_k |X_k|
    // over k = 1 … n/2, 0.0 when no bin dominates (flat series)
    spark.udf.register(gd("seriesPeriodDetectFFT"), (xs: Seq[Double]) => {
      if (xs == null || xs.size < 4) 0.0
      else {
        val n = xs.size
        val mean = xs.sum / n
        var bestK = 0; var bestMag = 0.0
        var k = 1
        while (k <= n / 2) {
          var re = 0.0; var im = 0.0
          var t = 0
          while (t < n) {
            val ang = 2.0 * math.Pi * k * t / n
            re += (xs(t) - mean) * math.cos(ang)
            im -= (xs(t) - mean) * math.sin(ang)
            t += 1
          }
          val mag = re * re + im * im
          if (mag > bestMag + 1e-12) { bestMag = mag; bestK = k }
          k += 1
        }
        if (bestK == 0 || bestMag < 1e-9) 0.0 else n.toDouble / bestK
      }
    })
    // arrayLevenshteinDistance: edit distance over element sequences
    spark.udf.register(gd("arrayLevenshteinDistance"),
      (a: Seq[String], b: Seq[String]) => {
        if (a == null || b == null) -1
        else {
          val dp = Array.tabulate(b.size + 1)(identity)
          for (i <- 1 to a.size) {
            var prev = dp(0); dp(0) = i
            for (j <- 1 to b.size) {
              val cur = dp(j)
              dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
                prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
              prev = cur
            }
          }
          dp(b.size)
        }
      })
    // arrayAUC(scores, labels): tie-aware midrank AUC over one row's
    // arrays (agg_auc is the table-scale twin). O(n²) per row — fine
    // for the per-row eval arrays CH aims this at.
    val arrayAucFn: (Seq[Double], Seq[Int]) => java.lang.Double =
      (scores, labels) => {
        if (scores == null || labels == null) null
        else {
          require(scores.size == labels.size, "arrayAUC: length mismatch")
          val p = labels.count(_ != 0).toDouble
          val n = labels.size - p
          if (p == 0 || n == 0) java.lang.Double.valueOf(Double.NaN)
          else {
            val sumRanks = scores.indices.filter(labels(_) != 0).map { i =>
              val s = scores(i)
              val lt = scores.count(_ < s)
              val eq = scores.count(_ == s)
              lt + (eq + 1) / 2.0
            }.sum
            java.lang.Double.valueOf(
              (sumRanks - p * (p + 1) / 2.0) / (p * n))
          }
        }
      }
    spark.udf.register(gd("arrayAUC"), arrayAucFn)
    spark.udf.register(gd("arrayROCAUC"), arrayAucFn) // CH 24.x rename
    // arrayAUCPR(scores, labels): area under the precision-recall
    // curve by the step rule Σ (R_k − R_{k−1})·P_k over score-DESC
    // order, equal-score blocks folded together (the standard
    // average-precision estimator; formula documented here because PR
    // integration conventions differ — spec-pinned known answers)
    val arrayAucPrFn: (Seq[Double], Seq[Int]) => java.lang.Double =
      (scores, labels) => {
        if (scores == null || labels == null) null
        else {
          require(scores.size == labels.size, "arrayAUCPR: length mismatch")
          val p = labels.count(_ != 0)
          if (p == 0) java.lang.Double.valueOf(Double.NaN)
          else {
            val sorted = scores.zip(labels).sortBy(-_._1)
            var tp = 0; var fp = 0; var prevR = 0.0; var area = 0.0
            var i = 0
            val n = sorted.size
            while (i < n) {
              var j = i
              while (j + 1 < n && sorted(j + 1)._1 == sorted(i)._1) j += 1
              var k = i
              while (k <= j) {
                if (sorted(k)._2 != 0) tp += 1 else fp += 1
                k += 1
              }
              val r = tp.toDouble / p
              if (r > prevR) {
                area += (r - prevR) * (tp.toDouble / (tp + fp)); prevR = r
              }
              i = j + 1
            }
            java.lang.Double.valueOf(area)
          }
        }
      }
    spark.udf.register(gd("arrayAUCPR"), arrayAucPrFn)
    // query-log normalization: literals (strings, then numbers) → ?
    spark.udf.register(gd("normalizeQuery"), (q: String) =>
      if (q == null) null
      else q.replaceAll("'(?:[^'\\\\]|\\\\.|'')*'", "?")
        .replaceAll("\\b\\d+(?:\\.\\d+)?\\b", "?"))
    macroFn("normalizedQueryHash", Seq("__q"),
      "sipHash64(normalizeQuery(__q))")
    spark.udf.register(gd("extractAllGroupsVertical"), (s: String, re: String) => {
      if (s == null || re == null) Seq.empty[Seq[String]]
      else {
        val m = java.util.regex.Pattern.compile(re).matcher(s)
        val out = scala.collection.mutable.ArrayBuffer[Seq[String]]()
        while (m.find()) out += (1 to m.groupCount())
          .map(g => Option(m.group(g)).getOrElse(""))
        out.toSeq
      }
    })
    spark.udf.register(gd("extractAllGroupsHorizontal"), (s: String, re: String) => {
      if (s == null || re == null) Seq.empty[Seq[String]]
      else {
        val m = java.util.regex.Pattern.compile(re).matcher(s)
        val rows = scala.collection.mutable.ArrayBuffer[Seq[String]]()
        while (m.find()) rows += (1 to m.groupCount())
          .map(g => Option(m.group(g)).getOrElse(""))
        if (rows.isEmpty) Seq.empty[Seq[String]]
        else (0 until rows.head.size).map(g => rows.map(_(g)).toSeq)
      }
    })
    // proportionsZTest(sx, sy, tx, ty, conf, 'pooled'|'unpooled') →
    // (z, p_two_sided, ci_lower, ci_upper); Φ from erf, Φ⁻¹ from the
    // same Acklam probit the minSampleSize planners use
    spark.udf.register(gd("proportionsZTest"),
      (sx: Long, sy: Long, tx: Long, ty: Long, conf: Double, mode: String) => {
        val p1 = sx.toDouble / tx; val p2 = sy.toDouble / ty
        val se =
          if (mode == "unpooled")
            math.sqrt(p1 * (1 - p1) / tx + p2 * (1 - p2) / ty)
          else {
            val pb = (sx + sy).toDouble / (tx + ty)
            math.sqrt(pb * (1 - pb) * (1.0 / tx + 1.0 / ty))
          }
        val z = (p1 - p2) / se
        val phi = 0.5 * (1.0 + erfImpl(math.abs(z) / math.sqrt(2.0)))
        val p = 2.0 * (1.0 - phi)
        val seU = math.sqrt(p1 * (1 - p1) / tx + p2 * (1 - p2) / ty)
        val zc = probitImpl(1.0 - (1.0 - conf) / 2.0)
        (z, p, (p1 - p2) - zc * seU, (p1 - p2) + zc * seU)
      })

    // ---- wave 15 (probe-driven, r8): map algebra, moving group
    //      arrays, geo angle, array shifts, type introspection ----
    // mapAdd/mapSubtract: key-union elementwise arithmetic; v*0 is
    // the type-preserving zero for whichever side is absent
    macroFn("mapAdd", Seq("__a", "__b"),
      """map_zip_with(__a, __b,
           (__k, __v1, __v2) -> coalesce(__v1, __v2 * 0)
                                + coalesce(__v2, __v1 * 0))""")
    macroFn("mapSubtract", Seq("__a", "__b"),
      """map_zip_with(__a, __b,
           (__k, __v1, __v2) -> coalesce(__v1, __v2 * 0)
                                - coalesce(__v2, __v1 * 0))""")
    // mapSort/mapReverseSort by key (struct compare orders by the
    // first entry field)
    macroFn("mapSort", Seq("__m"),
      "map_from_entries(array_sort(map_entries(__m)))")
    macroFn("mapReverseSort", Seq("__m"),
      "map_from_entries(reverse(array_sort(map_entries(__m))))")
    // mapConcat: duplicate keys keep the FIRST occurrence (CH
    // contract — Spark's own map_concat errors on duplicates)
    macroFn("mapConcat", Seq("__a", "__b"),
      """map_from_entries(
           filter(concat(map_entries(__a), map_entries(__b)),
             (__e, __i) -> array_position(
               transform(concat(map_entries(__a), map_entries(__b)),
                         __x -> __x.key), __e.key) = __i + 1))""")
    // groupArrayMovingSum/Avg — CH fills these in BLOCK ORDER
    // (nondeterministic at any parallelism); deterministic
    // reinterpretation over the SORTED multiset, the same contract as
    // groupArraySorted/groupArrayLast. MovingAvg divides the running
    // sum by the total count — CH's whole-window default — in
    // Spark's `/` semantics (DOUBLE; CH truncates for Int inputs —
    // wrap in intDiv for that). Aggregates stay OUTSIDE the lambdas
    // (zip_with formals only), which Catalyst requires.
    macroFn("groupArrayMovingSum", Seq("__x"),
      "arrayCumSum(array_sort(collect_list(__x)))")
    macroFn("groupArrayMovingAvg", Seq("__x"),
      """zip_with(arrayCumSum(array_sort(collect_list(__x))),
                  array_repeat(count(__x), CAST(count(__x) AS INT)),
                  (__s, __n) -> __s / __n)""")
    // central angle of the great circle, in degrees (the distance
    // formula with the Earth radius factored out)
    macroFn("greatCircleAngle", Seq("__lo1", "__la1", "__lo2", "__la2"),
      """degrees(2 * asin(sqrt(
           pow(sin(radians(__la2 - __la1) / 2), 2) +
           cos(radians(__la1)) * cos(radians(__la2)) *
           pow(sin(radians(__lo2 - __lo1) / 2), 2))))""")
    // pointInEllipses(x, y, x0, y0, a, b[, x1, y1, a1, b1]) → UInt8
    macroFnN("pointInEllipses",
      Seq("__x", "__y", "__x0", "__y0", "__a", "__b") ->
        """CAST(pow(__x - __x0, 2) / pow(__a, 2)
                + pow(__y - __y0, 2) / pow(__b, 2) <= 1.0 AS INT)""",
      Seq("__x", "__y", "__x0", "__y0", "__a", "__b",
          "__x1", "__y1", "__a1", "__b1") ->
        """CAST((pow(__x - __x0, 2) / pow(__a, 2)
                 + pow(__y - __y0, 2) / pow(__b, 2) <= 1.0)
                OR (pow(__x - __x1, 2) / pow(__a1, 2)
                    + pow(__y - __y1, 2) / pow(__b1, 2) <= 1.0) AS INT)""")
    // arrayShiftLeft/Right(arr, n[, default]): drop n from one end,
    // pad the other with the default (2-arg: numeric type-zero via
    // element_at*0, matching CH's type default for numbers; strings
    // need the explicit-default form). Negative n fails loudly toward
    // the opposite direction rather than silently flipping.
    def shiftBody(left: Boolean, d: String): String = {
      val keep =
        if (left) "slice(__a, CAST(__n AS INT) + 1, size(__a) - CAST(__n AS INT))"
        else "slice(__a, 1, size(__a) - CAST(__n AS INT))"
      val pad = s"array_repeat($d, CAST(__n AS INT))"
      val body = if (left) s"concat($keep, $pad)" else s"concat($pad, $keep)"
      val dir = if (left) "arrayShiftLeft" else "arrayShiftRight"
      val other = if (left) "arrayShiftRight" else "arrayShiftLeft"
      s"""CASE WHEN size(__a) = 0 THEN __a
               WHEN CAST(__n AS INT) < 0
                 THEN raise_error('$dir: negative n — use $other')
               WHEN CAST(__n AS INT) >= size(__a)
                 THEN transform(__a, __e -> $d)
               ELSE $body END"""
    }
    macroFnN("arrayShiftLeft",
      Seq("__a", "__n") -> shiftBody(left = true, "element_at(__a, 1) * 0"),
      Seq("__a", "__n", "__d") -> shiftBody(left = true, "__d"))
    macroFnN("arrayShiftRight",
      Seq("__a", "__n") -> shiftBody(left = false, "element_at(__a, 1) * 0"),
      Seq("__a", "__n", "__d") -> shiftBody(left = false, "__d"))
    // CH camelCase spelling of the SQL-standard bucketing fn
    macroFn("widthBucket", Seq("__x", "__lo", "__hi", "__n"),
      "width_bucket(__x, __lo, __hi, __n)")
    macroFn("toYYYYMMDDhhmmss", Seq("__t"),
      "CAST(date_format(CAST(__t AS TIMESTAMP), 'yyyyMMddHHmmss') AS BIGINT)")
    // type introspection: both resolve at PLAN time to constants
    reg("isNullable")(c => Literal(c.head.nullable))
    reg("defaultValueOfTypeName") { c =>
      require(c.size == 1 && c.head.foldable,
        "defaultValueOfTypeName('T') needs a literal type name")
      val t0 = c.head.eval().toString.trim
      val t = if (t0.startsWith("Nullable(") && t0.endsWith(")"))
        t0.substring(9, t0.length - 1).trim else t0
      t match {
        case "String" | "FixedString" => Literal("")
        case "Float32" | "Float64" => Literal(0.0)
        case "Date" | "Date32" => Literal.create(
          java.time.LocalDate.of(1970, 1, 1),
          org.apache.spark.sql.types.DateType)
        case s if s.startsWith("DateTime") => Literal.create(
          java.time.Instant.EPOCH,
          org.apache.spark.sql.types.TimestampType)
        case "Bool" => Literal(false)
        case s if s.matches("U?Int(8|16|32|64)") => Literal(0L)
        case s if s.startsWith("Decimal") =>
          Literal(java.math.BigDecimal.ZERO)
        case other => throw new IllegalArgumentException(
          s"defaultValueOfTypeName: unsupported type '$other'")
      }
    }
    // server-process uptime in seconds (CH system metric; here the
    // JVM's — resolved at plan time like now())
    reg("uptime") { c =>
      require(c.isEmpty, "uptime() takes no arguments")
      Literal((System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean
          .getStartTime) / 1000L)
    }
    // ---- wave 16 (probe-driven, r8) ----
    // toString(x) = CAST; the 2-arg DateTime form renders in the given
    // timezone. toTimeZone shifts the WALL-CLOCK reading to the target
    // zone (CH's toTimeZone only re-labels the display zone — the
    // instant is unchanged there; here the session renders in UTC, so
    // shifting the wall clock is what makes toHour/toString agree
    // with CH for a UTC-stored instant).
    macroFnN("toString",
      Seq("__x") -> "CAST(__x AS STRING)",
      Seq("__x", "__tz") ->
        """date_format(from_utc_timestamp(CAST(__x AS TIMESTAMP), __tz),
                       'yyyy-MM-dd HH:mm:ss')""")
    macroFn("toTimeZone", Seq("__t", "__tz"),
      "from_utc_timestamp(CAST(__t AS TIMESTAMP), __tz)")
    // CH Dynamic/Variant introspection → Spark 4 variant schema
    // (CAST(x AS JSON/Dynamic/Variant) maps to VariantType in ChSql;
    // these read back the runtime type the same way CH's do)
    macroFn("dynamicType", Seq("__v"), "schema_of_variant(__v)")
    macroFn("variantType", Seq("__v"), "schema_of_variant(__v)")
    // r19 Variant/JSON introspection AGGREGATES (CH 24.8):
    // distinctJSONPaths = sorted distinct leaf paths across the group
    // (per-row json_paths generator — map-side, no explode), and
    // distinctDynamicTypes = sorted distinct Variant type names
    // (schema_of_variant per row). Both one-pass collect_list/set.
    reg("json_paths")(c => JsonPaths(c.head))
    macroFn("distinctJSONPaths", Seq("__j"),
      "array_sort(array_distinct(flatten(collect_list(json_paths(__j)))))")
    macroFn("distinctDynamicTypes", Seq("__v"),
      "array_sort(collect_set(schema_of_variant(__v)))")

    // ---- wave 19 (probe-driven, r9) ----
    // string-distance long tail (jaroWinklerSimilarity predates this)
    spark.udf.register(gd("jaroSimilarity"), (a: String, b: String) => jaro(a, b))
    spark.udf.register(gd("damerauLevenshteinDistance"),
      (a: String, b: String) => damerauLevenshtein(a, b))
    macroFn("initcapUTF8", Seq("__s"), "initcap(__s)")
    // unbin: bit-string → bytes, a leading partial group then 8-bit
    // chunks (inverse of CH bin over string payloads)
    macroFn("unbin", Seq("__s"),
      """CASE WHEN length(__s) < 8 THEN
           CASE WHEN length(__s) = 0 THEN ''
                ELSE char(CAST(conv(__s, 2, 10) AS INT)) END
         ELSE concat(
           CASE WHEN length(__s) % 8 = 0 THEN ''
                ELSE char(CAST(conv(substring(__s, 1, length(__s) % 8),
                                    2, 10) AS INT)) END,
           array_join(transform(sequence(1, CAST(length(__s) DIV 8 AS INT)),
             __i -> char(CAST(conv(substring(__s,
                    length(__s) % 8 + (__i - 1) * 8 + 1, 8), 2, 10) AS INT))),
             '')) END""")
    // compact-integer date spellings
    macroFn("YYYYMMDDToDate", Seq("__n"),
      "to_date(CAST(CAST(__n AS BIGINT) AS STRING), 'yyyyMMdd')")
    macroFn("YYYYMMDDToDate32", Seq("__n"),
      "to_date(CAST(CAST(__n AS BIGINT) AS STRING), 'yyyyMMdd')")
    macroFn("YYYYMMDDhhmmssToDateTime", Seq("__n"),
      "to_timestamp(CAST(CAST(__n AS BIGINT) AS STRING), 'yyyyMMddHHmmss')")
    macroFn("YYYYMMDDhhmmssToDateTime64", Seq("__n"),
      "to_timestamp(CAST(CAST(__n AS BIGINT) AS STRING), 'yyyyMMddHHmmss')")
    // makeDate32(y, m, d) | makeDate32(y, dayOfYear) — CH's two forms
    macroFnN("makeDate32",
      Seq("__y", "__m", "__d") -> "make_date(__y, __m, __d)",
      Seq("__y", "__doy") ->
        "date_add(make_date(__y, 1, 1), CAST(__doy AS INT) - 1)")
    // arrayPartialSort(limit, a): CH sorts the first n positions and
    // leaves the tail UNSPECIFIED — the deterministic instance of
    // that contract is the full sort (its first n are the n smallest
    // sorted, and every executor count agrees on the rest)
    macroFn("arrayPartialSort", Seq("__n", "__a"), "array_sort(__a)")
    macroFn("arrayPartialReverseSort", Seq("__n", "__a"),
      "reverse(array_sort(__a))")
    macroFn("arrayElementOrNull", Seq("__a", "__i"),
      "try_element_at(__a, __i)")
    macroFn("splitByNonAlpha", Seq("__s"),
      "filter(split(__s, '[^A-Za-z0-9]+'), __x -> __x != '')")
    macroFn("isValidJSON", Seq("__s"), "try_parse_json(__s) IS NOT NULL")
    macroFn("JSONArrayLength", Seq("__s"), "json_array_length(__s)")
    spark.udf.register(gd("JSONMergePatch"), (a: String, b: String) => {
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(jsonMergePatch(
        JsonMethods.parse(a), JsonMethods.parse(b))))
    })
    // mapExists/mapAll: CH's (k, v) lambda re-bound over one
    // entry-struct parameter (same rebind as mapApply), then Spark's
    // codegen'd exists/forall over map_entries
    def entryPredicate(c: Seq[Expression], fn: String)
        : (Expression, LambdaFunction) = {
      require(c.size == 2, s"$fn(lambda, map)")
      val lf = c.head match {
        case l: LambdaFunction => l
        case other => throw new IllegalArgumentException(
          s"$fn: first argument must be a lambda, got $other")
      }
      require(lf.arguments.size == 2, s"$fn lambda takes (key, value)")
      val names = lf.arguments.map {
        case v: UnresolvedNamedLambdaVariable => v.nameParts.head
        case v => v.sql
      }
      val entry = UnresolvedNamedLambdaVariable(Seq("__graft_me"))
      def fieldOf(f: String) =
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          entry, Literal(org.apache.spark.unsafe.types.UTF8String.fromString(f),
            StringType))
      val body = lf.function.transformUp {
        case v: UnresolvedNamedLambdaVariable if v.nameParts.size == 1 &&
            v.nameParts.head == names(0) => fieldOf("key")
        case v: UnresolvedNamedLambdaVariable if v.nameParts.size == 1 &&
            v.nameParts.head == names(1) => fieldOf("value")
      }
      (MapEntries(c(1)), LambdaFunction(body, Seq(entry)))
    }
    reg("mapExists") { c =>
      val (entries, l) = entryPredicate(c, "mapExists"); ArrayExists(entries, l)
    }
    reg("mapAll") { c =>
      val (entries, l) = entryPredicate(c, "mapAll"); ArrayForAll(entries, l)
    }
    // ---- wave 20 (probe-driven, r9) ----
    macroFn("bitPositionsToArray", Seq("__x"),
      """filter(sequence(0, 63),
           __i -> (shiftright(CAST(__x AS BIGINT), CAST(__i AS INT)) & 1) = 1)""")
    // extractKeyValuePairs with CH's default delimiters (pair ',',
    // key-value ':'); quoting support is out of scope — documented
    macroFn("extractKeyValuePairs", Seq("__s"),
      """map_from_entries(transform(
           filter(split(__s, ','), __t -> contains(__t, ':')),
           __t -> struct(trim(split_part(__t, ':', 1)),
                         trim(split_part(__t, ':', 2)))))""")
    // tupleConcat over literal/constructed tuples: splice the field
    // lists at resolution time (general struct concat would need
    // runtime schemas — CH's use is overwhelmingly literal tuples)
    reg("tupleConcat") { c =>
      val fields = c.flatMap {
        case s: CreateNamedStruct => s.valExprs
        case other => throw new IllegalArgumentException(
          "tupleConcat expects tuple literals like (a, b) or tuple(x); " +
            s"got ${other.sql}")
      }
      CreateStruct(fields)
    }
    // tupleToNameValuePairs((a, b)): CH needs a NAMED tuple; the
    // Spark-side names come from the constructed struct's field names
    // (attribute names / col1, col2 for positional)
    reg("tupleToNameValuePairs") { c =>
      require(c.size == 1, "tupleToNameValuePairs(tuple)")
      c.head match {
        case s: CreateNamedStruct =>
          CreateArray(s.nameExprs.zip(s.valExprs).zipWithIndex.map {
            case ((n, v), i) =>
              // positional tuples carry NamePlaceholder — derive the
              // name CH would use (the member expression's identifier)
              val nm = n match {
                case Literal(u: org.apache.spark.unsafe.types.UTF8String, _)
                  if u != null => u.toString
                case _ => v match {
                  case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                    a.nameParts.last
                  case _ => s"_${i + 1}"
                }
              }
              // uniform (name, value) field names — elements must
              // share one struct type inside the array
              CreateNamedStruct(Seq(
                Literal(org.apache.spark.unsafe.types.UTF8String
                  .fromString("name"), StringType),
                Literal(org.apache.spark.unsafe.types.UTF8String
                  .fromString(nm), StringType),
                Literal(org.apache.spark.unsafe.types.UTF8String
                  .fromString("value"), StringType),
                v))
          })
        case other => throw new IllegalArgumentException(
          "tupleToNameValuePairs expects a tuple literal like (x, y); " +
            s"got ${other.sql}")
      }
    }
    // ---- wave 21 (probe-driven, r9) ----
    // sample-moment aggregates (Spark's skewness/kurtosis are the
    // POPULATION forms; kurtosis is EXCESS — CH kurtPop is not).
    // Sample forms from raw power sums; DedupAggregateCalls collapses
    // the repeated sum() calls into one pass.
    macroFn("skewPop", Seq("__x"), "skewness(CAST(__x AS DOUBLE))")
    macroFn("kurtPop", Seq("__x"), "kurtosis(CAST(__x AS DOUBLE)) + 3.0D")
    def momentParts(x: String) = (
      s"count($x)", s"avg(CAST($x AS DOUBLE))",
      s"avg(CAST($x AS DOUBLE) * $x)",
      s"avg(CAST($x AS DOUBLE) * $x * $x)",
      s"avg(CAST($x AS DOUBLE) * $x * $x * $x)")
    locally {
      val (n, m1, m2, m3, m4) = momentParts("__x")
      val cm2 = s"(($m2) - ($m1) * ($m1))"
      val cm3 = s"(($m3) - 3.0D * ($m1) * ($m2) + 2.0D * ($m1) * ($m1) * ($m1))"
      val cm4 = s"(($m4) - 4.0D * ($m1) * ($m3) + " +
        s"6.0D * ($m1) * ($m1) * ($m2) - 3.0D * ($m1) * ($m1) * ($m1) * ($m1))"
      val sVar = s"(($n) * $cm2 / (($n) - 1))"
      macroFn("skewSamp", Seq("__x"), s"$cm3 / power($sVar, 1.5D)")
      macroFn("kurtSamp", Seq("__x"), s"$cm4 / ($sVar * $sVar)")
    }
    // reinterpretAsString(int): the little-endian bytes with trailing
    // NULs dropped, like CH. Returned as BINARY (not a Spark STRING):
    // CH strings are raw byte arrays, and BINARY is the only Spark
    // type that keeps bytes >= 0x80 intact — so
    // reinterpretAsUInt64(reinterpretAsString(x)) == x for every x,
    // and plain-string inputs reach reinterpretAsUInt64 through
    // Spark's string->binary coercion as raw UTF-8 bytes, which is
    // exactly what CH reads from its (UTF-8-holding) strings. The
    // Int64/UInt64 readers are the single Array[Byte] registrations
    // above — no String-typed re-registration (that clobbered the
    // binary form and broke unhex() inputs).
    spark.udf.register(gd("reinterpretAsString"), (v: Long) => {
      val b = Array.tabulate(8)(i => ((v >>> (8 * i)) & 0xff).toByte)
      var n = 8
      while (n > 0 && b(n - 1) == 0) n -= 1
      java.util.Arrays.copyOf(b, n)
    })
    // URL-safe base64 (RFC 4648 §5: '+/'→'-_', padding stripped)
    macroFn("base64URLEncode", Seq("__s"),
      """regexp_replace(translate(base64(CAST(__s AS BINARY)), '+/', '-_'),
                        '=+$', '')""")
    macroFn("base64URLDecode", Seq("__s"),
      """CAST(unbase64(concat(translate(__s, '-_', '+/'),
             repeat('=', (4 - length(__s) % 4) % 4))) AS STRING)""")
    macroFn("toFixedString", Seq("__s", "__n"),
      """CASE WHEN length(__s) > __n THEN
           CAST(raise_error(concat('toFixedString: string longer than ',
                                   CAST(__n AS STRING))) AS STRING)
         ELSE rpad(__s, __n, char(0)) END""")
    macroFn("toStringCutToZero", Seq("__s"), "split_part(__s, char(0), 1)")
    // deltaSum is aggregation-order dependent in CH (nondeterministic
    // at any parallelism) — route users to the timestamp-keyed form,
    // which sorts by the key and is executor-count independent
    reg("deltaSum") { _ =>
      throw new IllegalArgumentException(
        "deltaSum is aggregation-order dependent in ClickHouse " +
          "(nondeterministic at any parallelism); use " +
          "deltaSumTimestamp(value, ts) — it orders by ts explicitly")
    }
    // (deltaSumTimestamp itself predates this wave — defined once,
    // earlier in the file, returning DOUBLE)
    // CH sums integers in the argument's own width and lets them wrap;
    // Spark's ANSI sum widens (and throws on real overflow) — the
    // non-wrapping result is the safe superset, spelled through
    macroFn("sumWithOverflow", Seq("__x"), "sum(__x)")
    // elementwise tuple arithmetic over tuple literals (CH's vector
    // tuples) — field lists spliced at resolution time
    def tupleBinary(name: String)(op: (Expression, Expression) => Expression)
        : Unit = reg(name) { c =>
      require(c.size == 2, s"$name(t1, t2)")
      (c(0), c(1)) match {
        case (a: CreateNamedStruct, b: CreateNamedStruct)
          if a.valExprs.size == b.valExprs.size =>
          CreateStruct(a.valExprs.zip(b.valExprs).map { case (x, y) => op(x, y) })
        case _ => throw new IllegalArgumentException(
          s"$name expects two equal-size tuple literals like (a, b)")
      }
    }
    tupleBinary("tuplePlus")(Add(_, _))
    tupleBinary("tupleMinus")(Subtract(_, _))
    tupleBinary("tupleMultiply")(Multiply(_, _))
    tupleBinary("tupleDivide")(Divide(_, _))
    tupleBinary("tupleIntDiv")((a, b) =>
      Cast(IntegralDivide(Cast(a, LongType), Cast(b, LongType)), LongType))
    tupleBinary("tupleModulo")((a, b) => Remainder(a, b))
    reg("tupleNegate") { c =>
      c.head match {
        case a: CreateNamedStruct => CreateStruct(a.valExprs.map(UnaryMinus(_)))
        case _ => throw new IllegalArgumentException(
          "tupleNegate expects a tuple literal")
      }
    }
    def tupleByNumber(name: String)(op: (Expression, Expression) => Expression)
        : Unit = reg(name) { c =>
      require(c.size == 2, s"$name(t, n)")
      c.head match {
        case a: CreateNamedStruct =>
          CreateStruct(a.valExprs.map(op(_, c(1))))
        case _ => throw new IllegalArgumentException(
          s"$name expects a tuple literal first")
      }
    }
    tupleByNumber("tupleMultiplyByNumber")(Multiply(_, _))
    tupleByNumber("tupleDivideByNumber")(Divide(_, _))
    // ---- wave 22 (probe-driven, r9) ----
    macroFn("positiveModulo", Seq("__a", "__b"), "pmod(__a, __b)")
    macroFn("identity", Seq("__x"), "__x")
    macroFn("materialize", Seq("__x"), "__x")
    reg("ignore")(_ => Literal(0))
    // indexHint: CH evaluates the argument only for index analysis
    // and yields 1 — partition pruning here comes from real filters
    reg("indexHint")(_ => Literal(1))
    macroFnN("throwIf",
      Seq("__c") ->
        """IF(coalesce(CAST(__c AS BOOLEAN), false),
              CAST(raise_error('throwIf condition was true') AS INT), 0)""",
      Seq("__c", "__m") ->
        """IF(coalesce(CAST(__c AS BOOLEAN), false),
              CAST(raise_error(__m) AS INT), 0)""")
    // arrayFill/arrayReverseFill: forward/backward fill from the last
    // (next) element where the predicate held — CH's LOCF over arrays
    def arrayFillBuilder(name: String, reverse: Boolean): Unit =
      reg(name) { c =>
        require(c.size == 2, s"$name(lambda, arr)")
        val lf = c.head match {
          case l: LambdaFunction => l
          case other => throw new IllegalArgumentException(
            s"$name: first argument must be a lambda, got $other")
        }
        val flags = ArrayTransform(c(1), lf)
        // size=0 guard: sequence(1, 0) yields [1, 0] (descending
        // default step) and element_at then raises under ANSI — CH
        // returns [] for an empty input, so short-circuit it.
        val pick =
          if (reverse)
            """CASE WHEN size(__arr) = 0 THEN __arr ELSE
               transform(sequence(1, size(__arr)), i ->
                 element_at(__arr, coalesce(
                   array_min(filter(sequence(i, size(__arr)),
                     j -> coalesce(CAST(element_at(__flg, j) AS BOOLEAN),
                                   false))), i))) END"""
          else
            """CASE WHEN size(__arr) = 0 THEN __arr ELSE
               transform(sequence(1, size(__arr)), i ->
                 element_at(__arr, coalesce(
                   array_max(filter(sequence(1, i),
                     j -> coalesce(CAST(element_at(__flg, j) AS BOOLEAN),
                                   false))), i))) END"""
        val filled = spark.sessionState.sqlParser.parseExpression(pick)
          .transformUp {
            case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                if ua.name == "__arr" => c(1)
            case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                if ua.name == "__flg" => flags
            case lv: UnresolvedNamedLambdaVariable
                if lv.nameParts == Seq("__arr") => c(1)
            case lv: UnresolvedNamedLambdaVariable
                if lv.nameParts == Seq("__flg") => flags
          }
        // concrete HigherOrderFunction root for the lambda-carrying call
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_fid"))
        ArrayTransform(filled, LambdaFunction(x, Seq(x)))
      }
    arrayFillBuilder("arrayFill", reverse = false)
    arrayFillBuilder("arrayReverseFill", reverse = true)
    // kostikConsistentHash: CH's sumbur algorithm — bit-parity would
    // require the published constants; refuse with the working
    // alternative rather than silently drifting
    reg("kostikConsistentHash") { _ =>
      throw new IllegalArgumentException(
        "kostikConsistentHash (sumbur) is not implemented; " +
          "jumpConsistentHash(x, n) provides the same O(1) " +
          "consistent-bucket contract")
    }
    // Sqids codec (r19): spec transcription with published-vector pins
    // (SqidsSpec). The variadic CH spelling packs into one array arg;
    // empty blocklist by default — the documented divergence vs CH's
    // bundled profanity data file (Sqids.scala scaladoc, SURVEY §8).
    reg("sqid")(c => SqidEncode(CreateArray(c.map(Cast(_, LongType)))))
    reg("sqidEncode")(c => SqidEncode(CreateArray(c.map(Cast(_, LongType)))))
    reg("sqidDecode")(c => SqidDecode(c.head))
    // the session is UTC-pinned (Graft.init), so the zone metadata
    // functions are plan-time constants
    macroFn("timeZone", Seq(), "'UTC'")
    macroFn("timeZoneOf", Seq("__t"), "'UTC'")
    macroFn("serverTimeZone", Seq(), "'UTC'")
    macroFnN("now",
      Seq() -> "current_timestamp()",
      Seq("__tz") -> "from_utc_timestamp(current_timestamp(), __tz)")
    // CH length is polymorphic (strings → BYTES, arrays, maps) —
    // PolySize is exactly that dispatch; lengthUTF8 stays the
    // character count via the alias above
    reg("length")(c => PolySize(c.head))
    // toRelative*Num: CH's monotone epoch/calendar counters — only
    // DIFFERENCES are meaningful (the anchor is an implementation
    // detail there too); day/hour/minute/second anchor at the 1970
    // epoch exactly like CH, year/quarter/month/week at calendar zero
    macroFn("toRelativeSecondNum", Seq("__t"),
      "unix_seconds(CAST(__t AS TIMESTAMP))")
    macroFn("toRelativeMinuteNum", Seq("__t"),
      "CAST(floor(unix_seconds(CAST(__t AS TIMESTAMP)) / 60) AS BIGINT)")
    macroFn("toRelativeHourNum", Seq("__t"),
      "CAST(floor(unix_seconds(CAST(__t AS TIMESTAMP)) / 3600) AS BIGINT)")
    macroFn("toRelativeDayNum", Seq("__t"),
      "datediff(CAST(__t AS DATE), DATE'1970-01-01')")
    // week counter is MONDAY-anchored like CH (epoch day 0 is a
    // Thursday; +3 shifts the week boundary onto Mondays, so
    // Friday→next-Monday is 1 week here as in CH)
    macroFn("toRelativeWeekNum", Seq("__t"),
      """CAST(floor((datediff(CAST(__t AS DATE), DATE'1970-01-01') + 3) / 7)
         AS BIGINT)""")
    macroFn("toRelativeMonthNum", Seq("__t"),
      "year(CAST(__t AS DATE)) * 12 + month(CAST(__t AS DATE))")
    macroFn("toRelativeQuarterNum", Seq("__t"),
      "year(CAST(__t AS DATE)) * 4 + quarter(CAST(__t AS DATE))")
    macroFn("toRelativeYearNum", Seq("__t"), "year(CAST(__t AS DATE))")
    // random strings (CH: true-random; same contract as the rand
    // family — rows-only testable). Hex output = printable ASCII.
    macroFn("randomString", Seq("__n"),
      """substring(repeat(md5(CAST(rand() AS STRING)),
                          CAST(__n AS INT) DIV 32 + 1), 1, CAST(__n AS INT))""")
    macroFn("randomPrintableASCII", Seq("__n"),
      """substring(repeat(md5(CAST(rand() AS STRING)),
                          CAST(__n AS INT) DIV 32 + 1), 1, CAST(__n AS INT))""")
    // randConstant: one random value for the whole query — a
    // plan-time literal (fresh per statement, constant across rows)
    reg("randConstant") { c =>
      require(c.size <= 1, "randConstant([x]) takes at most one argument")
      Literal(scala.util.Random.nextInt() & 0x7fffffff)
    }
    // array set algebra (CH 24.x spellings)
    macroFnN("arrayUnion",
      Seq("__a", "__b") -> "array_union(__a, __b)",
      Seq("__a", "__b", "__c") -> "array_union(array_union(__a, __b), __c)")
    macroFn("arraySymmetricDifference", Seq("__a", "__b"),
      """array_distinct(concat(array_except(__a, __b),
                               array_except(__b, __a)))""")
    // UTF8 position variants: Spark's locate/instr are already
    // code-point-based. positionUTF8 itself is the `instr` builtin
    // alias (registered in builtinAliases — a second macro here was
    // a guard-flagged duplicate); the case-insensitive spelling has
    // no single builtin, so it stays a macro.
    macroFn("positionCaseInsensitiveUTF8", Seq("__h", "__n"),
      "locate(lower(__n), lower(__h))")
    // ---- general-purpose hash family (CH murmur*/farm*) ----
    // Guava ships the REFERENCE murmur3 (x86_32 / x64_128, verified
    // against the public smhasher vectors — pinned in ChCompatSpec)
    // and FarmHash Fingerprint64 — the exact function CH's
    // farmFingerprint64 binds. Seed 0 everywhere, matching CH.
    // UInt64 results are returned as the same 64 BITS in Int64 (the
    // sipHash64 convention); murmurHash3_32 is a true UInt32 so it
    // fits non-negative in Int64. cityHash64 has NO bit-parity
    // implementation here: CH pins pre-1.1 CityHash whose short-input
    // constants differ from every maintained implementation. It is
    // registered anyway — as an md5-derived 60-bit STAND-IN (see the
    // md5Hash64 block above), alongside farmHash64/metroHash64/
    // wyHash64 — because in-graft sharding/sampling only needs a
    // deterministic well-mixed key. This is a DOCUMENTED DIVERGENCE
    // (SURVEY §8 known-divergences; values pinned NOT-CH-parity in
    // ChCompatSpec): a CH user porting cityHash64-based shard routing
    // must re-shard or switch to the bit-parity family
    // (sipHash64/intHash64/murmur*/farmFingerprint64/xxHash32).
    // murmurHash2_32/64 are transcribed from the public MurmurHash2
    // reference (seed 0); their spec vectors pin STABILITY (the
    // algorithm is public but no independent JVM oracle exists here).
    // one shared seeded core (CHash.murmur2_64/_32 since r19 — the
    // gcc/kafka seeded spellings reuse it; the seed-0 values here are
    // protected by the existing stability pins)
    def mm2_64(data: Array[Byte]): Long = CHash.murmur2_64(data, 0L)
    def mm2_32(data: Array[Byte]): Int = CHash.murmur2_32(data, 0)
    spark.udf.register(gd("murmurHash3_32"), (s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(java.lang.Integer.toUnsignedLong(
        com.google.common.hash.Hashing.murmur3_32_fixed(0)
          .hashBytes(s.getBytes("UTF-8")).asInt())))
    spark.udf.register(gd("murmurHash3_64"), (s: String) =>
      if (s == null) null
      else {
        val b = com.google.common.hash.Hashing.murmur3_128(0)
          .hashBytes(s.getBytes("UTF-8")).asBytes()
        var lo = 0L; var i = 7
        while (i >= 0) { lo = (lo << 8) | (b(i) & 0xffL); i -= 1 }
        java.lang.Long.valueOf(lo)
      })
    spark.udf.register(gd("murmurHash3_128"), (s: String) =>
      if (s == null) null
      else com.google.common.hash.Hashing.murmur3_128(0)
        .hashBytes(s.getBytes("UTF-8")).asBytes())
    spark.udf.register(gd("farmFingerprint64"), (s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(
        com.google.common.hash.Hashing.farmHashFingerprint64()
          .hashBytes(s.getBytes("UTF-8")).asLong()))
    spark.udf.register(gd("murmurHash2_64"), (s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(mm2_64(s.getBytes("UTF-8"))))
    spark.udf.register(gd("murmurHash2_32"), (s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(
        java.lang.Integer.toUnsignedLong(mm2_32(s.getBytes("UTF-8")))))
    // r19 hash-family closures (all bit-parity-by-construction):
    // gccMurmurHash = libstdc++ _Hash_bytes = seeded MurmurHash2-64A
    // (seed 0xc70f6907); kafkaMurmurHash = Kafka DefaultPartitioner's
    // murmur2 (seed 0x9747b28c) with the partitioner's toPositive
    // mask — the function exists so kafkaMurmurHash(key) % n IS the
    // Kafka partition; javaHashUTF16LE = String.hashCode over the
    // UTF-16LE code units (even byte count required, like CH).
    spark.udf.register(gd("gccMurmurHash"), (s: String) =>
      if (s == null) null
      else java.lang.Long.valueOf(
        CHash.murmur2_64(s.getBytes("UTF-8"), 0xc70f6907L)))
    spark.udf.register(gd("kafkaMurmurHash"), (s: String) =>
      if (s == null) null
      else java.lang.Integer.valueOf(
        CHash.murmur2_32(s.getBytes("UTF-8"), 0x9747b28c) & 0x7fffffff))
    spark.udf.register(gd("javaHashUTF16LE"), (s: String) =>
      if (s == null) null
      else java.lang.Integer.valueOf(
        CHash.javaHashUTF16LE(s.getBytes("UTF-8"))))
    // xxHash64 (XXH64 seed 0 on raw bytes — NOT Spark's typed-layout
    // xxhash64), MD4 (RFC 1320), keyed SipHash — codegen expressions
    reg("xxHash64")(c => XxHash64Ch(c.head))
    reg("MD4")(c => Md4Hash(c.head))
    reg("sipHash64Keyed")(c => {
      require(c.size == 2,
        "sipHash64Keyed((k0, k1), data) — a 2-tuple key and the value")
      SipHash64Keyed(Cast(GetStructField(c(0), 0), LongType),
        Cast(GetStructField(c(0), 1), LongType), c(1))
    })

    // ---- wave 23 (probe-driven, r12) ----
    // space-filling curves (CH morton-/hilbert-encoding function
    // families, 2-argument forms — the practical cell-index cases)
    spark.udf.register(gd("mortonEncode"),
      (x: Long, y: Long) => mortonEncode2(x, y))
    spark.udf.register(gd("mortonDecode"), (dims: Int, z: Long) => {
      require(dims == 2, "mortonDecode: only the 2-dimension form is supported")
      mortonDecode2(z)
    })
    spark.udf.register(gd("hilbertEncode"),
      (x: Long, y: Long) => hilbertEncode2(x, y))
    spark.udf.register(gd("hilbertDecode"), (dims: Int, z: Long) => {
      require(dims == 2, "hilbertDecode: only the 2-dimension form is supported")
      hilbertDecode2(z)
    })
    spark.udf.register(gd("ngramDistance"),
      (h: String, n: String) => ngramDistanceImpl(h, n))
    spark.udf.register(gd("ngramSearch"),
      (h: String, n: String) => ngramSearchImpl(h, n))
    spark.udf.register(gd("ULIDStringToDateTime"), (s: String) => {
      val ms = ulidMillis(s)
      if (ms == null) null
      else new java.sql.Timestamp(ms.longValue())
    })
    // UUIDv7 carries unix-epoch milliseconds in its first 48 bits
    macroFn("UUIDv7ToDateTime", Seq("__u"),
      "timestamp_millis(CAST(conv(substring(replace(__u, '-', ''), 1, 12), 16, 10) AS BIGINT))")
    macroFn("generateUUIDv7", Seq(), "uuid()") // v4 bits; format-compatible
    // CH percent-encoding: spaces are %20, never '+' (url_encode is
    // form-encoding; '+' in the source becomes %2B first, so the
    // fix-up replace is unambiguous)
    macroFn("encodeURLComponent", Seq("__s"),
      "replace(url_encode(__s), '+', '%20')")
    macroFn("decodeURLComponent", Seq("__s"), "url_decode(__s)")
    // netloc: [user[:pass]@]host[:port] — everything between scheme
    // and the first /, ? or #
    macroFn("netloc", Seq("__u"),
      """regexp_extract(__u, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]*)', 1)""")
    macroFn("arrayDotProduct", Seq("__a", "__b"),
      """aggregate(zip_with(__a, __b, (x, y) -> CAST(x AS DOUBLE) * y),
                   CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")
    // now64(precision[, tz]) — the session clock; precision only
    // widens the rendered fraction in CH, the instant is the same
    macroFnN("now64",
      Seq() -> "now()",
      Seq("__p") -> "now()",
      Seq("__p", "__tz") -> "from_utc_timestamp(now(), __tz)")
    macroFn("toMillisecond", Seq("__t"),
      "CAST(pmod(unix_millis(CAST(__t AS TIMESTAMP)), 1000) AS INT)")
    macroFn("addMilliseconds", Seq("__t", "__n"),
      "timestamp_millis(unix_millis(CAST(__t AS TIMESTAMP)) + CAST(__n AS BIGINT))")
    macroFn("subtractMilliseconds", Seq("__t", "__n"),
      "timestamp_millis(unix_millis(CAST(__t AS TIMESTAMP)) - CAST(__n AS BIGINT))")
    // change<Part>: recompose the timestamp with ONE field replaced
    // (CH 24.7 change* family)
    def changePart(name: String, y: String, mo: String, d: String,
        h: String, mi: String, se: String): Unit =
      macroFn(name, Seq("__t", "__v"),
        s"""make_timestamp($y, $mo, $d, $h, $mi, $se)""")
    val (cy, cmo, cd, ch, cmi, cs) = (
      "year(CAST(__t AS TIMESTAMP))", "month(CAST(__t AS TIMESTAMP))",
      "day(CAST(__t AS TIMESTAMP))", "hour(CAST(__t AS TIMESTAMP))",
      "minute(CAST(__t AS TIMESTAMP))", "second(CAST(__t AS TIMESTAMP))")
    changePart("changeYear", "CAST(__v AS INT)", cmo, cd, ch, cmi, cs)
    changePart("changeMonth", cy, "CAST(__v AS INT)", cd, ch, cmi, cs)
    changePart("changeDay", cy, cmo, "CAST(__v AS INT)", ch, cmi, cs)
    changePart("changeHour", cy, cmo, cd, "CAST(__v AS INT)", cmi, cs)
    changePart("changeMinute", cy, cmo, cd, ch, "CAST(__v AS INT)", cs)
    changePart("changeSecond", cy, cmo, cd, ch, cmi, "CAST(__v AS INT)")
    // CH toUTCTimestamp/fromUTCTimestamp have exactly Spark's
    // to_utc_timestamp/from_utc_timestamp semantics (wall clock in the
    // given zone ↔ UTC reading)
    macroFn("toUTCTimestamp", Seq("__t", "__tz"),
      "to_utc_timestamp(CAST(__t AS TIMESTAMP), __tz)")
    // NOTE: expands to from_utc_timestamp, which the epoch family's
    // unwrapTz looks through — toUnixTimestamp(fromUTCTimestamp(x, tz))
    // = toUnixTimestamp(x), which is exactly CH (the instant is
    // unchanged; only the carried display zone differs)
    macroFn("fromUTCTimestamp", Seq("__t", "__tz"),
      "from_utc_timestamp(CAST(__t AS TIMESTAMP), __tz)")
    // timestamp(expr[, expr_time]): DateTime64 cast; the 2-arg form
    // adds the second argument's time-of-day
    macroFnN("timestamp",
      Seq("__s") -> "CAST(__s AS TIMESTAMP)",
      Seq("__s", "__t") ->
        """CAST(__s AS TIMESTAMP) +
           (CAST(__t AS TIMESTAMP) - date_trunc('DAY', CAST(__t AS TIMESTAMP)))""")
    macroFnN("makeDateTime64",
      Seq("__y", "__mo", "__d", "__h", "__mi", "__s") ->
        "make_timestamp(CAST(__y AS INT), CAST(__mo AS INT), CAST(__d AS INT), CAST(__h AS INT), CAST(__mi AS INT), CAST(__s AS DECIMAL(16,6)))",
      // the fraction argument is in PRECISION units; CH's default
      // precision is 3 (milliseconds); the 8-arg form takes precision
      Seq("__y", "__mo", "__d", "__h", "__mi", "__s", "__f") ->
        "make_timestamp(CAST(__y AS INT), CAST(__mo AS INT), CAST(__d AS INT), CAST(__h AS INT), CAST(__mi AS INT), CAST(__s AS DECIMAL(16,6)) + CAST(__f AS DECIMAL(16,6)) / 1000)",
      Seq("__y", "__mo", "__d", "__h", "__mi", "__s", "__f", "__p") ->
        "make_timestamp(CAST(__y AS INT), CAST(__mo AS INT), CAST(__d AS INT), CAST(__h AS INT), CAST(__mi AS INT), CAST(__s AS DECIMAL(16,6)) + CAST(CAST(__f AS DECIMAL(16,6)) / pow(10, CAST(__p AS INT)) AS DECIMAL(16,6)))")
    macroFn("toBool", Seq("__x"), "CAST(__x AS BOOLEAN)")
    // 24.6 snowflakeID spellings (same Twitter-epoch bit layout as the
    // deprecated pair above; optional custom epoch-ms second argument)
    macroFnN("snowflakeIDToDateTime",
      Seq("__i") ->
        "timestamp_millis(shiftright(CAST(__i AS BIGINT), 22) + 1288834974657)",
      Seq("__i", "__e") ->
        "timestamp_millis(shiftright(CAST(__i AS BIGINT), 22) + CAST(__e AS BIGINT))")
    macroFnN("dateTime64ToSnowflakeID",
      Seq("__t") ->
        "shiftleft(unix_millis(CAST(__t AS TIMESTAMP)) - 1288834974657, 22)",
      Seq("__t", "__e") ->
        "shiftleft(unix_millis(CAST(__t AS TIMESTAMP)) - CAST(__e AS BIGINT), 22)")
    // the DateTime (second-precision) 24.6 spelling — second-resolution
    // input, same bit layout (r19; the deprecated dateTimeToSnowflake
    // above is the pre-24.6 name)
    macroFnN("dateTimeToSnowflakeID",
      Seq("__t") ->
        "shiftleft(unix_millis(CAST(__t AS TIMESTAMP)) - 1288834974657, 22)",
      Seq("__t", "__e") ->
        "shiftleft(unix_millis(CAST(__t AS TIMESTAMP)) - CAST(__e AS BIGINT), 22)")

    // ---- wave 24 (probe-driven, r12) ----
    // zip with null padding to the LONGER input — exactly Spark's
    // zip_with padding contract
    macroFn("arrayZipUnaligned", Seq("__a", "__b"),
      "zip_with(__a, __b, (x, y) -> struct(x, y))")
    // Spark strings are valid UTF-8, so the byte-boundary-checked CH
    // variants coincide with the plain predicates
    macroFn("startsWithUTF8", Seq("__s", "__p"), "startswith(__s, __p)")
    macroFn("endsWithUTF8", Seq("__s", "__p"), "endswith(__s, __p)")
    macroFn("substringIndexUTF8", Seq("__s", "__d", "__n"),
      "substring_index(__s, __d, CAST(__n AS INT))")
    // form-encoding IS java/Spark url_encode ('+' for space)
    macroFn("encodeURLFormComponent", Seq("__s"), "url_encode(__s)")
    macroFn("decodeURLFormComponent", Seq("__s"), "url_decode(__s)")
    // server-meta stubs (single-library deployment constants)
    macroFn("currentRoles", Seq(), "array('default')")
    macroFn("tcpPort", Seq(), "CAST(9000 AS INT)")
    macroFn("getOSKernelVersion", Seq(),
      s"'${System.getProperty("os.name")} ${System.getProperty("os.version")}'")
    // tupleNames: element names off the struct TYPE (plan-time
    // constant — see functions/TupleNames.scala)
    reg("tupleNames")(c => TupleNames(c.head))
    // hasSubsequence: needle chars appear in haystack in order (CH
    // string-search-functions; two-pointer scan)
    spark.udf.register(gd("hasSubsequence"), (h: String, n: String) => {
      if (h == null || n == null) null
      else {
        var i = 0; var j = 0
        while (i < h.length && j < n.length) {
          if (h.charAt(i) == n.charAt(j)) j += 1
          i += 1
        }
        java.lang.Boolean.valueOf(j == n.length)
      }
    })
    // IPv6NumToString: 16-byte binary → RFC 5952 compressed text
    // (Inet6Address renders the canonical form; ::ffff:a.b.c.d mapped
    // addresses render the embedded IPv4 like CH)
    spark.udf.register(gd("IPv6NumToString"), (b: Array[Byte]) => {
      if (b == null || b.length != 16) null
      else {
        val groups = (0 until 8).map(i =>
          ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
        // find longest zero run (≥ 2) for :: compression
        var bestStart = -1; var bestLen = 0; var s = -1
        for (i <- 0 to 8) {
          if (i < 8 && groups(i) == 0) { if (s < 0) s = i }
          else {
            if (s >= 0 && i - s > bestLen) { bestStart = s; bestLen = i - s }
            s = -1
          }
        }
        val hex = groups.map(g => Integer.toHexString(g))
        if (bestLen >= 2) {
          val left = hex.take(bestStart).mkString(":")
          val right = hex.drop(bestStart + bestLen).mkString(":")
          left + "::" + right
        } else hex.mkString(":")
      }
    })

    // ---- wave 25 (r12): two-sample test SPELLINGS with p-values ----
    // The library gate entries (agg_welch_ttest, …) compute the
    // statistics relationally; these are the CH aggregate-function
    // spellings a user types: f(sample, sample_index) over index 0/1.
    spark.udf.register(gd("studentTPValue"),
      (t: Double, df: Double) => tPValue(t, df))
    spark.udf.register(gd("probit"), (p: Double) => probitImpl(p))
    // default-parameter mannWhitneyUTest(x, i); the parametric
    // ('greater', 0)(x, i) shapes rewrite onto on-demand instances in
    // ChSql (same registerOnce machinery as topK)
    spark.udf.register(gd("mannWhitneyUTest"),
      org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.MannWhitneyU()))
    spark.udf.register(gd("kolmogorovSmirnovTest"),
      org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.KolmogorovSmirnov()))
    // ---- wave 27 (r12): categorical-association aggregates ----
    // cramersV / cramersVBiasCorrected / theilsU / contingency(a, b):
    // one collected contingency-map state (O(distinct pairs), map-sum
    // merge) with the published χ²/entropy finals — the relational
    // agg_cramers_v / agg_contingency_theilsu entries prove the same
    // algebra against DuckDB; sql_ch_assoc_spellings hash-matches
    // these spellings to that oracle.
    for (m <- Seq("cramersV", "cramersVBiasCorrected", "theilsU",
        "contingency"))
      spark.udf.register(gd(m),
        org.apache.spark.sql.functions.udaf(
          new graft.ops.Aggregates.AssocContingency(m)))
    locally {
      // per-sample moment pieces from DECIMAL-lattice sums — the same
      // FP-order-independence convention every gated double sum uses
      def piece(i: Int) = (
        s"CAST(count(CASE WHEN CAST(__i AS INT) = $i THEN 1 END) AS DOUBLE)",
        s"CAST(sum(CASE WHEN CAST(__i AS INT) = $i THEN CAST(__x AS DECIMAL(22,6)) END) AS DOUBLE)",
        s"CAST(sum(CASE WHEN CAST(__i AS INT) = $i THEN CAST(CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE) AS DECIMAL(22,6)) END) AS DOUBLE)")
      val (n0, s0, ss0) = piece(0)
      val (n1, s1, ss1) = piece(1)
      val (m0, m1) = (s"($s0 / $n0)", s"($s1 / $n1)")
      val v0 = s"(($ss0 - $s0 * $s0 / $n0) / ($n0 - 1))"
      val v1 = s"(($ss1 - $s1 * $s1 / $n1) / ($n1 - 1))"
      // Welch: unequal variances, Welch–Satterthwaite df
      val wT = s"(($m0 - $m1) / sqrt($v0 / $n0 + $v1 / $n1))"
      val wDf = s"(pow($v0 / $n0 + $v1 / $n1, 2) / " +
        s"(pow($v0 / $n0, 2) / ($n0 - 1) + pow($v1 / $n1, 2) / ($n1 - 1)))"
      macroFn("welchTTest", Seq("__x", "__i"),
        s"named_struct('t_statistic', $wT, " +
          s"'p_value', studentTPValue($wT, $wDf))")
      // Student: pooled variance, df = n0 + n1 − 2
      val sp2 = s"((($n0 - 1) * $v0 + ($n1 - 1) * $v1) / ($n0 + $n1 - 2))"
      val sT = s"(($m0 - $m1) / sqrt($sp2 * (1 / $n0 + 1 / $n1)))"
      macroFn("studentTTest", Seq("__x", "__i"),
        s"named_struct('t_statistic', $sT, " +
          s"'p_value', studentTPValue($sT, $n0 + $n1 - 2))")
    }
    locally {
      // one-sample Student t (CH 24.12 studentTTestOneSample(x, μ)):
      // t = (x̄ − μ)/(s/√n), df = n−1; same DECIMAL-lattice sums and
      // the shared studentTPValue final. μ is CH-contract a constant —
      // max() makes it aggregate-position-safe.
      val n = "CAST(count(CASE WHEN __x IS NOT NULL THEN 1 END) AS DOUBLE)"
      val sx = "CAST(sum(CAST(__x AS DECIMAL(22,6))) AS DOUBLE)"
      val sxx = "CAST(sum(CAST(CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE) AS DECIMAL(22,6))) AS DOUBLE)"
      val mu = "max(CAST(__mu AS DOUBLE))"
      val m = s"($sx / $n)"
      val v = s"(($sxx - $sx * $sx / $n) / ($n - 1))"
      val t = s"(($m - $mu) / sqrt($v / $n))"
      macroFn("studentTTestOneSample", Seq("__x", "__mu"),
        s"named_struct('t_statistic', $t, " +
          s"'p_value', studentTPValue($t, $n - 1))")
    }

    // IPv6 text↔binary inverse pair + CIDR algebra (CH ip-address
    // functions; NumToString's RFC 5952 output re-parses to the same
    // bytes — roundtrip property-tested)
    spark.udf.register(gd("IPv6StringToNum"), (s: String) => parseIPv6(s))
    spark.udf.register(gd("toIPv6"), (s: String) => parseIPv6(s))
    spark.udf.register(gd("isIPv6String"),
      (s: String) => java.lang.Boolean.valueOf(parseIPv6(s) != null))
    spark.udf.register(gd("IPv6CIDRToRange"), (b: Array[Byte], bits: Int) => {
      if (b == null || b.length != 16 || bits < 0 || bits > 128) null
      else {
        val lo = b.clone(); val hi = b.clone()
        var i = 0
        while (i < 16) {
          val keep = math.max(0, math.min(8, bits - 8 * i))
          val mask = (0xff << (8 - keep)) & 0xff
          lo(i) = (lo(i) & mask).toByte
          hi(i) = ((hi(i) & mask) | (~mask & 0xff)).toByte
          i += 1
        }
        (lo, hi)
      }
    })
    spark.udf.register(gd("isIPAddressInRange"), (addr: String, cidr: String) => {
      if (addr == null || cidr == null) null
      else {
        val slash = cidr.lastIndexOf('/')
        if (slash < 0) java.lang.Boolean.FALSE
        else {
          val base = cidr.substring(0, slash)
          val bits = try cidr.substring(slash + 1).toInt catch {
            case _: NumberFormatException => -1
          }
          def v4(x: String): Array[Byte] = {
            val o = x.split("\\.", -1)
            if (o.length != 4 || o.exists(p => p.isEmpty || p.length > 3 ||
                !p.forall(_.isDigit) || p.toInt > 255)) null
            else o.map(_.toInt.toByte)
          }
          val (ab, bb, width) =
            if (base.contains(':')) (parseIPv6(addr), parseIPv6(base), 128)
            else (v4(addr), v4(base), 32)
          if (ab == null || bb == null || bits < 0 || bits > width)
            java.lang.Boolean.FALSE
          else {
            var ok = true
            var i = 0
            while (i < ab.length && ok) {
              val keep = math.max(0, math.min(8, bits - 8 * i))
              val mask = (0xff << (8 - keep)) & 0xff
              if ((ab(i) & mask) != (bb(i) & mask)) ok = false
              i += 1
            }
            java.lang.Boolean.valueOf(ok)
          }
        }
      }
    })

    // groupBitmapAnd/Or/Xor: fold the group's bitmap COLUMNS (sorted
    // distinct arrays here) with set algebra, returning the
    // cardinality like CH. The collect_list wrap mirrors CH's
    // state-buffering; xor(a,b) = (a∪b)∖(a∩b).
    macroFn("groupBitmapOr", Seq("__b"),
      "size(array_distinct(flatten(collect_list(__b))))")
    macroFn("groupBitmapAnd", Seq("__b"),
      """element_at(transform(array(collect_list(__b)), __cl ->
           size(aggregate(slice(__cl, 2, size(__cl)),
                          element_at(__cl, 1),
                          (__a, __x) -> array_intersect(__a, __x)))), 1)""")
    macroFn("groupBitmapXor", Seq("__b"),
      """element_at(transform(array(collect_list(__b)), __cl ->
           size(aggregate(slice(__cl, 2, size(__cl)),
                          element_at(__cl, 1),
                          (__a, __x) -> array_except(array_union(__a, __x),
                                                     array_intersect(__a, __x))))), 1)""")

    // ---- wave 26 (r12): four stragglers ----
    macroFn("JSONExtractUInt", Seq("__j", "__k"),
      "CAST(get_json_object(__j, concat('$.', __k)) AS BIGINT)")
    macroFn("concatAssumeInjective", Seq("__a", "__b"),
      "concat(__a, __b)") // the CH name is an optimizer hint, not new semantics
    macroFnN("regexpExtract",
      Seq("__h", "__p") -> "regexp_extract(__h, __p, 1)",
      Seq("__h", "__p", "__i") ->
        "regexp_extract(__h, __p, CAST(__i AS INT))")
    // Joda pattern letters for date parts coincide with Spark's
    // java.time patterns for the symbols CH documents (y M d H m s)
    macroFn("formatDateTimeInJodaSyntax", Seq("__t", "__f"),
      "date_format(CAST(__t AS TIMESTAMP), __f)")
    macroFn("fromUnixTimestampInJodaSyntax", Seq("__n", "__f"),
      "date_format(timestamp_seconds(CAST(__n AS BIGINT)), __f)")

    // ---- wave 28 (r12): probe-found gap sweep ----
    // Random-distribution family [public docs: sql-reference/functions/
    // random-functions]. Nondeterministic BY CONTRACT (registered
    // .asNondeterministic so Catalyst never folds/reorders them);
    // gate coverage is range/support checks, not value hashes. Heavy
    // tails use the exact loop up to a cutoff and the standard normal
    // approximation beyond it (the CH functions document no bit-exact
    // stream, so only the DISTRIBUTION is the contract).
    locally {
      import org.apache.spark.sql.functions.udf
      def rng() = java.util.concurrent.ThreadLocalRandom.current()
      def chi2(k: Double): Double = {
        // k ≤ cutoff: sum of squared gaussians (exact); else Wilson–
        // Hilferty normal approximation (published transform)
        if (k <= 1000) {
          var s = 0.0; var i = 0
          while (i < k.toInt) { val g = rng().nextGaussian(); s += g * g; i += 1 }
          val frac = k - k.floor
          if (frac > 0) { val g = rng().nextGaussian(); s += frac * g * g }
          s
        } else {
          val z = rng().nextGaussian()
          val c = 2.0 / (9.0 * k)
          k * math.pow(1.0 - c + z * math.sqrt(c), 3)
        }
      }
      spark.udf.register(gd("randUniform"), udf((a: Double, b: Double) =>
        a + (b - a) * rng().nextDouble()).asNondeterministic())
      spark.udf.register(gd("randNormal"), udf((m: Double, v: Double) =>
        m + math.sqrt(v) * rng().nextGaussian()).asNondeterministic())
      spark.udf.register(gd("randLogNormal"), udf((m: Double, v: Double) =>
        math.exp(m + math.sqrt(v) * rng().nextGaussian())).asNondeterministic())
      spark.udf.register(gd("randExponential"), udf((l: Double) =>
        -math.log(1.0 - rng().nextDouble()) / l).asNondeterministic())
      // ULID generator (r18): random by nature like the rest of this
      // block — 10 Crockford chars of unix-ms + 16 random chars (the
      // published ULID layout); the deterministic decoder
      // ULIDStringToDateTime (ulidMillis above) round-trips it
      spark.udf.register(gd("generateULID"), udf(() => {
        val alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
        val sb = new java.lang.StringBuilder(26)
        val ms = System.currentTimeMillis()
        var i = 9
        while (i >= 0) {
          sb.append(alphabet.charAt(((ms >>> (5 * i)) & 31).toInt)); i -= 1
        }
        var j = 0
        while (j < 16) { sb.append(alphabet.charAt(rng().nextInt(32))); j += 1 }
        sb.toString
      }).asNondeterministic())
      spark.udf.register(gd("randBernoulli"), udf((p: Double) =>
        if (rng().nextDouble() < p) 1L else 0L).asNondeterministic())
      spark.udf.register(gd("randBinomial"), udf((n: Long, p: Double) => {
        if (n <= 100000L) {
          var k = 0L; var i = 0L
          while (i < n) { if (rng().nextDouble() < p) k += 1; i += 1 }
          k
        } else {
          val mu = n * p
          val sd = math.sqrt(n * p * (1 - p))
          math.max(0L, math.min(n, math.round(mu + sd * rng().nextGaussian())))
        }
      }).asNondeterministic())
      spark.udf.register(gd("randNegativeBinomial"), udf((r: Long, p: Double) => {
        // failures before the r-th success; exact geometric loop
        require(p > 0.0 && p <= 1.0, "randNegativeBinomial: p must be in (0, 1]")
        var succ = 0L; var fails = 0L
        while (succ < r && fails < 100000000L) {
          if (rng().nextDouble() < p) succ += 1 else fails += 1
        }
        fails
      }).asNondeterministic())
      spark.udf.register(gd("randPoisson"), udf((mean: Double) => {
        if (mean < 500) {
          val limit = math.exp(-mean)
          var k = 0L; var prod = rng().nextDouble()
          while (prod > limit) { k += 1; prod *= rng().nextDouble() }
          k
        } else math.max(0L, math.round(mean + math.sqrt(mean) * rng().nextGaussian()))
      }).asNondeterministic())
      spark.udf.register(gd("randChiSquared"),
        udf((k: Double) => chi2(k)).asNondeterministic())
      spark.udf.register(gd("randStudentT"), udf((dof: Double) =>
        rng().nextGaussian() / math.sqrt(chi2(dof) / dof)).asNondeterministic())
      spark.udf.register(gd("randFisherF"), udf((d1: Double, d2: Double) =>
        (chi2(d1) / d1) / (chi2(d2) / d2)).asNondeterministic())
    }
    // tryBase58Decode: NULL on any non-alphabet character (the
    // throwing sibling is registered in the encoding block above)
    spark.udf.register(gd("tryBase58Decode"), (s: String) => {
      if (s == null) null
      else {
        val alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
        if (s.exists(alpha.indexOf(_) < 0)) null
        else {
          val zeros = s.takeWhile(_ == '1').length
          var n = BigInt(0)
          s.foreach(ch => n = n * 58 + alpha.indexOf(ch))
          val body = if (n == 0) Array.empty[Byte]
            else n.toByteArray.dropWhile(_ == 0)
          new String(Array.fill[Byte](zeros)(0) ++ body,
            java.nio.charset.StandardCharsets.UTF_8)
        }
      }
    })
    // SQL/JSON trio [public docs: sql-reference/functions/json-functions
    // JSON_EXISTS/JSON_VALUE/JSON_QUERY] on Spark 4 VARIANT: missing
    // paths are '' (CH contract), JSON_VALUE returns SCALARS only
    // (objects/arrays → '' like CH), JSON_QUERY wraps every match in
    // an array rendered as canonical JSON text.
    macroFn("JSON_EXISTS", Seq("__j", "__p"),
      "variant_get(try_parse_json(__j), __p) IS NOT NULL")
    macroFn("JSON_VALUE", Seq("__j", "__p"),
      """CASE WHEN schema_of_variant(variant_get(try_parse_json(__j), __p))
                 RLIKE '^(OBJECT|ARRAY)' THEN ''
         ELSE coalesce(CAST(variant_get(try_parse_json(__j), __p) AS STRING), '')
         END""")
    macroFn("JSON_QUERY", Seq("__j", "__p"),
      """coalesce(concat('[',
           to_json(variant_get(try_parse_json(__j), __p)), ']'), '')""")
    // byteSlice/bitSlice [public docs: string-functions]: 1-based
    // offsets, negative offsets count from the end. Byte slicing goes
    // through BINARY so multi-byte chars split exactly like CH (the
    // decode of a torn sequence yields replacement chars — same
    // mojibake CH prints); bitSlice pads the tail bits with zeros and
    // returns the byte-faithful ISO-8859-1 rendering.
    macroFn("byteSlice", Seq("__s", "__o", "__l"),
      """decode(substring(encode(__s, 'UTF-8'),
           CAST(__o AS INT), CAST(__l AS INT)), 'UTF-8')""")
    spark.udf.register(gd("bitSlice"), (s: String, off: Int, len: Int) => {
      if (s == null) null
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val total = bytes.length * 8
        val start = if (off > 0) off - 1 else math.max(0, total + off)
        val n = math.max(0, math.min(len, total - math.min(start, total)))
        val out = new Array[Byte]((n + 7) / 8)
        var i = 0
        while (i < n) {
          val sb = start + i
          if (((bytes(sb >> 3) >> (7 - (sb & 7))) & 1) != 0)
            out(i >> 3) = (out(i >> 3) | (1 << (7 - (i & 7)))).toByte
          i += 1
        }
        new String(out, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
    })
    // UTF8 position variants: Spark strings are char-indexed already,
    // so the UTF8 spellings share the char-based bodies (the BYTE
    // flavors are the ones that need the encode() detour)
    macroFn("multiSearchAllPositionsUTF8", Seq("__h", "__ns"),
      "transform(__ns, n -> instr(__h, n))")
    macroFn("countMatchesCaseInsensitive", Seq("__h", "__p"),
      "regexp_count(__h, concat('(?i)', __p))")
    // bare (parameterless) forms of the parametric quantile spellings
    // default to level 0.5 like CH; the determinator/timing arguments
    // only steer CH's sampling, the exact quantile ignores them
    macroFn("quantileDeterministic", Seq("__x", "__d"),
      "graft_quantile_exact(CAST(__x AS DOUBLE), CAST(0.5 AS DOUBLE))")
    macroFn("quantileTimingWeighted", Seq("__x", "__w"),
      "percentile(__x, 0.5, CAST(__w AS BIGINT))")
    macroFn("quantileExactWeighted", Seq("__x", "__w"),
      "percentile(__x, 0.5, CAST(__w AS BIGINT))")
    macroFn("quantileInterpolatedWeighted", Seq("__x", "__w"),
      "percentile(__x, 0.5, CAST(__w AS BIGINT))")
    // wave-28 aggregate spellings (collected-state Aggregators —
    // ops/Aggregates.scala has the per-class scale notes)
    spark.udf.register(gd("rankCorr"),
      org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.RankCorr))
    spark.udf.register(gd("analysisOfVariance"),
      org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.AnovaF))
    spark.udf.register(gd("anova"),
      org.apache.spark.sql.functions.udaf(new graft.ops.Aggregates.AnovaF))
    spark.udf.register(gd("intervalLengthSum"),
      org.apache.spark.sql.functions.udaf(
        new graft.ops.Aggregates.IntervalLengthSum))
    // categoricalInformationValue(cat, tag) [public docs: aggregate-
    // functions/reference/categoricalinformationvalue]: cat and tag
    // are 0/1 indicators; the information value is the standard
    // weight-of-evidence sum over the two cat buckets,
    // Σ_v (g_v/G − b_v/B)·ln((g_v/G)/(b_v/B)) with g = tag=1 counts,
    // b = tag=0 counts; zero-count buckets contribute 0. CH returns
    // one element per category column — the macro covers the 1- and
    // 2-category arities.
    locally {
      def iv(c: String, t: String): String = {
        def cnt(cv: String, tv: String) =
          s"CAST(count(CASE WHEN (CAST($c AS INT) = $cv) " +
            s"AND (CAST($t AS INT) = $tv) THEN 1 END) AS DOUBLE)"
        val (g1, g0) = (cnt("1", "1"), cnt("0", "1"))
        val (b1, b0) = (cnt("1", "0"), cnt("0", "0"))
        val gT = s"($g1 + $g0)"; val bT = s"($b1 + $b0)"
        def term(g: String, bb: String) =
          s"CASE WHEN $g > 0 AND $bb > 0 THEN " +
            s"($g / $gT - $bb / $bT) * ln(($g / $gT) / ($bb / $bT)) " +
            s"ELSE 0D END"
        s"(${term(g1, b1)} + ${term(g0, b0)})"
      }
      macroFnN("categoricalInformationValue",
        Seq("__c", "__t") -> s"array(${iv("__c", "__t")})",
        Seq("__c1", "__c2", "__t") ->
          s"array(${iv("__c1", "__t")}, ${iv("__c2", "__t")})")
    }

    // ---- wave 29 (r12): second gap sweep ----
    // printf IS C-style formatting in both engines
    fr.createOrReplaceTempFunction(gd("printf"),
      FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("format_string")).get, "built-in")
    // stringCompare [CH 25.x]: three-way compare, whole strings or
    // (s1, off1, len1, s2, off2, len2) substrings (0-based offsets)
    macroFnN("stringCompare",
      Seq("__a", "__b") ->
        "CASE WHEN __a < __b THEN -1 WHEN __a > __b THEN 1 ELSE 0 END",
      Seq("__a", "__ao", "__al", "__b", "__bo", "__bl") ->
        """CASE WHEN substring(__a, CAST(__ao AS INT) + 1, CAST(__al AS INT))
                   < substring(__b, CAST(__bo AS INT) + 1, CAST(__bl AS INT))
                THEN -1
                WHEN substring(__a, CAST(__ao AS INT) + 1, CAST(__al AS INT))
                   > substring(__b, CAST(__bo AS INT) + 1, CAST(__bl AS INT))
                THEN 1 ELSE 0 END""")
    // Spark levenshtein counts CHARs — that IS the UTF8 flavor
    macroFn("editDistanceUTF8", Seq("__a", "__b"), "levenshtein(__a, __b)")
    macroFn("quantileExactWeightedInterpolated", Seq("__x", "__w"),
      "percentile(__x, 0.5, CAST(__w AS BIGINT))")
    // session timezone is pinned UTC (Graft.init), so UTCTimestamp is
    // the current timestamp; nowInBlock's CH-side distinction (fresh
    // value per processed block) has no Spark analog — same instant
    macroFn("UTCTimestamp", Seq(), "now()")
    macroFn("nowInBlock", Seq(), "now()")
    // base32 (RFC 4648, upper-case, padded) [public spec]
    locally {
      val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
      def enc32(s: String): String = {
        val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sb = new StringBuilder
        var buf = 0L; var bits = 0
        in.foreach { b =>
          buf = (buf << 8) | (b & 0xff); bits += 8
          while (bits >= 5) { bits -= 5; sb += alpha(((buf >> bits) & 31).toInt) }
        }
        if (bits > 0) sb += alpha(((buf << (5 - bits)) & 31).toInt)
        while (sb.length % 8 != 0) sb += '='
        sb.toString
      }
      def dec32(s: String): String = {
        val body = s.takeWhile(_ != '=')
        var buf = 0L; var bits = 0
        val out = new scala.collection.mutable.ArrayBuffer[Byte]
        body.foreach { ch =>
          val v = alpha.indexOf(ch.toUpper)
          require(v >= 0, s"base32Decode: invalid character '$ch'")
          buf = (buf << 5) | v; bits += 5
          if (bits >= 8) { bits -= 8; out += ((buf >> bits) & 0xff).toByte }
        }
        new String(out.toArray, java.nio.charset.StandardCharsets.UTF_8)
      }
      spark.udf.register(gd("base32Encode"), (s: String) =>
        if (s == null) null else enc32(s))
      spark.udf.register(gd("base32Decode"), (s: String) =>
        if (s == null) null else dec32(s))
      spark.udf.register(gd("tryBase32Decode"), (s: String) =>
        if (s == null) null
        else try dec32(s) catch { case _: IllegalArgumentException => null })
    }
    // Cartesian polygon family [CH docs: sql-reference/functions/
    // geo/polygon]: a Polygon is Array(Ring), first ring the outer
    // boundary, the rest holes; rings may or may not repeat the
    // closing point (both accepted). Shoelace area, edge-sum
    // perimeter, Andrew monotone-chain hull — all published formulas.
    locally {
      type Ring = Seq[(Double, Double)]
      def pts(r: Ring): Vector[(Double, Double)] = {
        val v = r.toVector
        if (v.size > 1 && v.head == v.last) v.init else v
      }
      def shoelace(r: Vector[(Double, Double)]): Double = {
        var s = 0.0
        var i = 0
        val n = r.size
        while (i < n) {
          val (x1, y1) = r(i); val (x2, y2) = r((i + 1) % n)
          s += x1 * y2 - x2 * y1
          i += 1
        }
        math.abs(s) / 2.0
      }
      def perim(r: Vector[(Double, Double)]): Double = {
        var s = 0.0
        var i = 0
        val n = r.size
        while (i < n) {
          val (x1, y1) = r(i); val (x2, y2) = r((i + 1) % n)
          s += math.hypot(x2 - x1, y2 - y1)
          i += 1
        }
        s
      }
      spark.udf.register(gd("polygonAreaCartesian"), (poly: Seq[Seq[(Double, Double)]]) =>
        if (poly == null || poly.isEmpty) 0.0
        else shoelace(pts(poly.head)) - poly.tail.map(h => shoelace(pts(h))).sum)
      spark.udf.register(gd("polygonPerimeterCartesian"), (poly: Seq[Seq[(Double, Double)]]) =>
        if (poly == null) 0.0 else poly.map(r => perim(pts(r))).sum)
      spark.udf.register(gd("polygonConvexHullCartesian"), (poly: Seq[Seq[(Double, Double)]]) => {
        val all = poly.flatMap(pts).distinct.sorted.toVector
        if (all.size <= 2) all
        else {
          def half(ps: Vector[(Double, Double)]) = {
            var h = Vector.empty[(Double, Double)]
            ps.foreach { p =>
              while (h.size >= 2 && {
                val (ox, oy) = h(h.size - 2); val (ax, ay) = h.last
                (ax - ox) * (p._2 - oy) - (ay - oy) * (p._1 - ox) <= 0
              }) h = h.init
              h :+= p
            }
            h
          }
          half(all).init ++ half(all.reverse).init
        }
      })
      spark.udf.register(gd("wkt"), (poly: Seq[Seq[(Double, Double)]]) =>
        if (poly == null) null
        else "POLYGON(" + poly.map { r =>
          val v = pts(r)
          val closed = if (v.nonEmpty) v :+ v.head else v
          "(" + closed.map { case (x, y) =>
            s"${fmtCoord(x)} ${fmtCoord(y)}"
          }.mkString(",") + ")"
        }.mkString(",") + ")")
      // CH Point = Tuple(x, y); accessed via .1/.2 like any tuple
      spark.udf.register(gd("readWKTPoint"), (s: String) => {
        if (s == null) null
        else {
          val body = s.trim.stripPrefix("POINT").trim
          require(body.startsWith("(") && body.endsWith(")"),
            s"readWKTPoint: not a POINT wkt: $s")
          val xy = body.substring(1, body.length - 1).trim.split("""\s+""")
          require(xy.length == 2, s"readWKTPoint: bad point '$s'")
          (xy(0).toDouble, xy(1).toDouble)
        }
      })
      spark.udf.register(gd("readWKTPolygon"), (s: String) => {
        if (s == null) null
        else {
          val body = s.trim.stripPrefix("POLYGON").trim
          require(body.startsWith("(") && body.endsWith(")"),
            s"readWKTPolygon: not a POLYGON wkt: $s")
          val ringsTxt = body.substring(1, body.length - 1)
          // split top-level rings on '),(' boundaries
          ringsTxt.split("""\)\s*,\s*\(""").map { r0 =>
            val r = r0.stripPrefix("(").stripSuffix(")")
            r.split(",").map { pt =>
              val xy = pt.trim.split("""\s+""")
              require(xy.length == 2, s"readWKTPolygon: bad point '$pt'")
              (xy(0).toDouble, xy(1).toDouble)
            }.toSeq
          }.toSeq
        }
      })
    }
    // Porter stemmer [Porter 1980, public algorithm] — CH stem(lang,
    // word) supports many Snowball languages; English is the one with
    // a fully-specified public core algorithm, others refuse loudly.
    spark.udf.register(gd("stem"), (lang: String, w: String) => {
      require(lang == "en" || lang == "english",
        s"stem: only 'en' (Porter) is implemented here, got '$lang' — " +
          "other Snowball languages need dictionary/affix resources")
      porterStem(w)
    })
    reg("lemmatize") { _ =>
      throw new IllegalArgumentException(
        "lemmatize needs CH-server lemma dictionaries this environment " +
          "does not ship; stem('en', word) provides the rule-based form")
    }
    reg("synonyms") { _ =>
      throw new IllegalArgumentException(
        "synonyms needs CH-server synonym-set extensions this " +
          "environment does not ship")
    }
    // evalMLMethod(model, x…) [CH docs: machine-learning-functions]:
    // applies a stochastic*Regression fit. The model struct carries
    // its link ('linear' dot product, 'logistic' sigmoid), and the
    // weight-count guard turns a feature-arity mismatch into a loud
    // error instead of a silently shifted intercept read.
    // ---- wave 31 (r12): dictionaries-adjacent + introspection ----
    // visibleWidth: CH's render width; the rendered-string length is
    // the faithful analog under the session's byte-length `length`
    macroFn("visibleWidth", Seq("__x"), "char_length(CAST(__x AS STRING))")
    macroFn("toColumnTypeName", Seq("__x"), "toTypeName(__x)")
    // query/host identity: Spark's stable analogs (the CH values are
    // server-generated identifiers with the same uniqueness contract)
    // one id per QUERY, not per row — minted at analysis time, the
    // randConstant pattern (CH's queryID is constant within a query)
    reg("queryID") { c =>
      require(c.isEmpty, "queryID() takes no arguments")
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
        java.util.UUID.randomUUID().toString), StringType)
    }
    reg("initialQueryID") { c =>
      require(c.isEmpty, "initialQueryID() takes no arguments")
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
        java.util.UUID.randomUUID().toString), StringType)
    }
    spark.udf.register(gd("FQDN"), () =>
      java.net.InetAddress.getLocalHost.getCanonicalHostName)
    // URL hierarchy walks [CH docs: url-functions#urlhierarchy]:
    // progressive prefixes cut at path/query separators
    spark.udf.register(gd("URLHierarchy"), (u: String) => {
      if (u == null) null
      else {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        val protoEnd = {
          val i = u.indexOf("://")
          if (i >= 0) i + 3 else 0
        }
        val hostEnd = {
          val i = u.indexOf('/', protoEnd)
          if (i >= 0) i else u.length
        }
        if (hostEnd > 0) out += u.substring(0, hostEnd) + "/"
        var i = hostEnd + 1
        while (i < u.length) {
          u.charAt(i) match {
            case '/' => out += u.substring(0, i + 1)
            case '?' | '#' =>
              out += u.substring(0, u.length); i = u.length
            case _ =>
          }
          i += 1
        }
        if (out.isEmpty || (out.last != u && hostEnd < u.length &&
            !u.endsWith("/"))) out += u
        out.distinct.toSeq
      }
    })
    spark.udf.register(gd("URLPathHierarchy"), (u: String) => {
      if (u == null) null
      else {
        val protoEnd = {
          val i = u.indexOf("://")
          if (i >= 0) i + 3 else 0
        }
        val hostEnd = {
          val i = u.indexOf('/', protoEnd)
          if (i >= 0) i else u.length
        }
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = hostEnd + 1
        while (i < u.length) {
          u.charAt(i) match {
            case '/' => out += u.substring(hostEnd, i + 1)
            case '?' | '#' =>
              out += u.substring(hostEnd); i = u.length
            case _ =>
          }
          i += 1
        }
        if (hostEnd < u.length && !u.endsWith("/") &&
            (out.isEmpty || out.last != u.substring(hostEnd)))
          out += u.substring(hostEnd)
        out.distinct.toSeq
      }
    })
    // bin with CH semantics (full 8-bit groups per string byte; a
    // numeric argument prints its declared type's full width, never
    // silently stringified — Spark's builtin bin() is the minimal
    // binary of a BIGINT, a different contract, so the CH spelling
    // shadows it deliberately; the inverse unbin macro predates this,
    // wave 19). Native type-dispatched expression: BinCh (spec'd in
    // BinChSpec).
    locally {
      guard("bin", "reg")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bin", (c: Seq[Expression]) => {
          require(c.size == 1, "bin(x) takes exactly one argument")
          BinCh(c.head)
        }, "built-in")
    }

    locally {
      // macro arguments are whole expressions — field access must go
      // through tupleElement, not dotted names (the template parser
      // would read `__m.weights` as one qualified identifier)
      def ws = "tupleElement(__m, 'weights')"
      def dot(n: Int): String = {
        val terms = (1 to n).map(i =>
          s"element_at($ws, $i) * CAST(__x$i AS DOUBLE)") :+
          s"element_at($ws, ${n + 1})"
        terms.mkString(" + ")
      }
      def body(n: Int): String =
        s"""CASE
              WHEN size($ws) != ${n + 1} THEN
                raise_error(concat('evalMLMethod: model has ',
                  CAST(size($ws) - 1 AS STRING),
                  ' feature weight(s), call passes $n'))
              WHEN tupleElement(__m, 'method') = 'logistic' THEN
                CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-(${dot(n)})))
              ELSE ${dot(n)}
            END"""
      macroFnN("evalMLMethod",
        Seq("__m", "__x1") -> body(1),
        Seq("__m", "__x1", "__x2") -> body(2),
        Seq("__m", "__x1", "__x2", "__x3") -> body(3),
        Seq("__m", "__x1", "__x2", "__x3", "__x4") -> body(4))
    }

    guardReport()
  }

  /** One stable id per JVM — CH's serverUUID is stable per server
    * lifetime, and this library's "server" is the driver process.
    */
  private val serverUuidConst = java.util.UUID.randomUUID().toString

  /** Render a coordinate the WKT way: integral values without the
    * trailing '.0' Spark's Double formatting would add.
    */
  private def fmtCoord(d: Double): String =
    if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString

  /** Porter 1980 stemmer, the published 5-step rule set. */
  private[graft] def porterStem(w0: String): String = {
    if (w0 == null) return null
    var b = w0.toLowerCase(java.util.Locale.ROOT)
    if (b.length <= 2) return b
    def isCons(s: String, i: Int): Boolean = s.charAt(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y' => i == 0 || !isCons(s, i - 1)
      case _ => true
    }
    def measure(s: String): Int = {
      var m = 0; var i = 0; val n = s.length
      while (i < n && isCons(s, i)) i += 1
      while (i < n) {
        while (i < n && !isCons(s, i)) i += 1
        if (i < n) {
          m += 1
          while (i < n && isCons(s, i)) i += 1
        }
      }
      m
    }
    def hasVowel(s: String) = s.indices.exists(i => !isCons(s, i))
    def doubleC(s: String) = s.length >= 2 &&
      s.charAt(s.length - 1) == s.charAt(s.length - 2) &&
      isCons(s, s.length - 1)
    def cvc(s: String) = s.length >= 3 &&
      isCons(s, s.length - 3) && !isCons(s, s.length - 2) &&
      isCons(s, s.length - 1) && !"wxy".contains(s.last)
    // step 1a
    if (b.endsWith("sses")) b = b.dropRight(2)
    else if (b.endsWith("ies")) b = b.dropRight(2)
    else if (!b.endsWith("ss") && b.endsWith("s")) b = b.dropRight(1)
    // step 1b
    var extra = false
    if (b.endsWith("eed")) {
      if (measure(b.dropRight(3)) > 0) b = b.dropRight(1)
    } else if (b.endsWith("ed") && hasVowel(b.dropRight(2))) {
      b = b.dropRight(2); extra = true
    } else if (b.endsWith("ing") && hasVowel(b.dropRight(3))) {
      b = b.dropRight(3); extra = true
    }
    if (extra) {
      if (b.endsWith("at") || b.endsWith("bl") || b.endsWith("iz")) b += "e"
      else if (doubleC(b) && !"lsz".contains(b.last)) b = b.dropRight(1)
      else if (measure(b) == 1 && cvc(b)) b += "e"
    }
    // step 1c
    if (b.endsWith("y") && hasVowel(b.dropRight(1))) b = b.dropRight(1) + "i"
    // steps 2–4: (suffix → replacement) applied when measure(stem)
    // clears the step's threshold
    def applyList(rules: Seq[(String, String)], minM: Int): Unit = {
      rules.find { case (suf, _) => b.endsWith(suf) }.foreach {
        case (suf, rep) =>
          val stem = b.dropRight(suf.length)
          if (measure(stem) > minM) b = stem + rep
      }
    }
    applyList(Seq("ational" -> "ate", "tional" -> "tion", "enci" -> "ence",
      "anci" -> "ance", "izer" -> "ize", "abli" -> "able", "alli" -> "al",
      "entli" -> "ent", "eli" -> "e", "ousli" -> "ous", "ization" -> "ize",
      "ation" -> "ate", "ator" -> "ate", "alism" -> "al", "iveness" -> "ive",
      "fulness" -> "ful", "ousness" -> "ous", "aliti" -> "al",
      "iviti" -> "ive", "biliti" -> "ble"), 0)
    applyList(Seq("icate" -> "ic", "ative" -> "", "alize" -> "al",
      "iciti" -> "ic", "ical" -> "ic", "ful" -> "", "ness" -> ""), 0)
    applyList(Seq("al" -> "", "ance" -> "", "ence" -> "", "er" -> "",
      "ic" -> "", "able" -> "", "ible" -> "", "ant" -> "", "ement" -> "",
      "ment" -> "", "ent" -> "", "ou" -> "", "ism" -> "", "ate" -> "",
      "iti" -> "", "ous" -> "", "ive" -> "", "ize" -> ""), 1)
    // step 4's (s|t)ion special case
    if (b.endsWith("ion")) {
      val stem = b.dropRight(3)
      if (stem.nonEmpty && "st".contains(stem.last) && measure(stem) > 1)
        b = stem
    }
    // step 5a
    if (b.endsWith("e")) {
      val stem = b.dropRight(1)
      val m = measure(stem)
      if (m > 1 || (m == 1 && !cvc(stem))) b = stem
    }
    // step 5b
    if (measure(b) > 1 && doubleC(b) && b.endsWith("l")) b = b.dropRight(1)
    b
  }

  /** CH appends combinator suffixes to ANY aggregate name (`sumIf`,
    * `groupArrayIf`, `uniqOrNull`, `countDistinctIf`, `sumArrayIf`, …)
    * [public docs: sql-reference/aggregate-functions/combinators].
    * The fixed spellings in [[register]] cover the hot ones; this
    * peels -If / -OrNull / -Distinct / -Array chains off an
    * UNRESOLVED name recursively and composes a builder over the
    * registered base: -If null-masks every value argument with the
    * trailing condition (null inputs never contribute to any Spark
    * aggregate), -OrNull strips to the base (Spark aggregates are
    * already NULL on the empty set) except the count family which
    * null-ifs its 0, -Distinct sets the distinct flag, -Array maps a
    * known base over array contents. None = "not a combinator
    * spelling"; the caller leaves the name to fail as unresolved.
    */
  def combinatorBuilder(spark: SparkSession,
      name: String): Option[Seq[Expression] => Expression] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, AggregateFunction, CollectList, CollectSet,
      Max, Min, Sum}
    val fr = spark.sessionState.functionRegistry
    def lookup(n: String): Option[Seq[Expression] => Expression] =
      fr.lookupFunctionBuilder(FunctionIdentifier(n))
        .orElse(FunctionRegistry.builtin
          .lookupFunctionBuilder(FunctionIdentifier(n)))
        .map(b => (args: Seq[Expression]) => b(args))
    def asAggExpr(e: Expression): Expression = e match {
      case af: AggregateFunction => af.toAggregateExpression()
      case other => other
    }
    // a combinator chain must bottom out on an aggregate — silently
    // null-masking a SCALAR base's arguments would change semantics
    def mustAgg(e: Expression): Expression = {
      require(e.find {
        case _: AggregateFunction | _: AggregateExpression => true
        case _ => false
      }.isDefined, s"$name: combinator suffix on a non-aggregate base")
      e
    }
    def arrayComb(base: String): Option[Seq[Expression] => Expression] = {
      def one(args: Seq[Expression]): Expression = {
        require(args.size == 1,
          s"$name: the -Array combinator takes one array argument")
        args.head
      }
      base.toLowerCase(java.util.Locale.ROOT) match {
        case "count" => Some(a => Sum(Cast(Size(one(a)), LongType)))
        case "min" => Some(a => Min(ArrayMin(one(a))))
        case "max" => Some(a => Max(ArrayMax(one(a))))
        case "sum" => lookup("arraySum").map(as =>
          (a: Seq[Expression]) => Sum(as(Seq(one(a)))))
        case "avg" => lookup("arraySum").map { as => (a: Seq[Expression]) =>
          val arr = one(a)
          // mean over ALL elements = total / total element count —
          // NOT avg of per-row means
          Divide(Cast(asAggExpr(Sum(as(Seq(arr)))), DoubleType),
            Cast(asAggExpr(Sum(Cast(Size(arr), LongType))), DoubleType))
        }
        case "grouparray" => Some(a => Flatten(asAggExpr(CollectList(one(a)))))
        case "groupuniqarray" =>
          Some(a => ArrayDistinct(Flatten(asAggExpr(CollectSet(one(a))))))
        case "uniq" | "uniqexact" => Some(a =>
          Cast(Size(ArrayDistinct(Flatten(asAggExpr(CollectSet(one(a)))))),
            LongType))
        case _ => None
      }
    }
    def peel(n: String): Option[Seq[Expression] => Expression] = {
      val l = n.toLowerCase(java.util.Locale.ROOT)
      lookup(n).orElse {
        if (l.endsWith("if") && l.length > 2)
          peel(n.dropRight(2)).map { inner => (args: Seq[Expression]) =>
            require(args.size >= 2, s"$name: -If needs a trailing condition")
            val cond =
              Coalesce(Seq(Cast(args.last, BooleanType), Literal(false)))
            mustAgg(inner(args.init.map(a => CaseWhen(Seq((cond, a)), None))))
          }
        else if (l.endsWith("ornull") && l.length > 6)
          peel(n.dropRight(6)).map { inner => (args: Seq[Expression]) =>
            val e = mustAgg(inner(args))
            // the count family yields 0 on the empty set where CH's
            // -OrNull wants NULL; every other aggregate is already NULL
            if (l.startsWith("count") || l.startsWith("uniq"))
              new NullIf(asAggExpr(e), Literal(0L))
            else e
          }
        else if (l.endsWith("ordefault") && l.length > 9)
          peel(n.dropRight(9)).map { inner => (args: Seq[Expression]) =>
            val e = asAggExpr(mustAgg(inner(args)))
            // CH -OrDefault: the aggregate's TYPE default on the empty
            // set instead of NULL. dataType is available here because
            // ResolveFunctions fires once the arguments are resolved.
            Coalesce(Seq(e, Literal.default(e.dataType)))
          }
        else if (l.endsWith("distinct") && l.length > 8)
          peel(n.dropRight(8)).map { inner => (args: Seq[Expression]) =>
            inner(args) match {
              case af: AggregateFunction =>
                af.toAggregateExpression(isDistinct = true)
              case ae: AggregateExpression => ae.copy(isDistinct = true)
              case other => throw new IllegalArgumentException(
                s"$name: -Distinct needs a plain aggregate root, " +
                  s"got ${other.sql}")
            }
          }
        else if (l.endsWith("array") && l.length > 5) arrayComb(n.dropRight(5))
        else None
      }
    }
    if (lookup(name).isDefined) None else peel(name)
  }
}
