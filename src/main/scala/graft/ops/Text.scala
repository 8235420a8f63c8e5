package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for LLM-training-data curation over the
  * `documents` fixture (BASELINE north-star: dedup, text analysis).
  *
  * Everything is built from codegen'd builtins + higher-order
  * functions — no UDFs — and every hash is md5-based so the DuckDB
  * oracle can reproduce values bit-for-bit ('0x'||hex cast on the
  * DuckDB side, conv(hex,16,10) here; verified identical).
  *
  * Scale design: all per-document work is embarrassingly parallel
  * projections; candidate generation for near-dup detection goes
  * through LSH band buckets (groupBy/join on band key — one shuffle),
  * NEVER an all-pairs cross join.
  */
object Text {

  /** Whitespace tokenizer (documents.text is space-separated). */
  def tokens(c: Column): Column = split(c, " ")

  /** 60-bit md5-derived hash of `s`, salted by `seed` — the shared
    * cross-engine hash primitive (DuckDB twin:
    * CAST('0x'||substring(md5(seed||'|'||s),1,15) AS BIGINT)).
    */
  def mh60(seed: Column, s: Column): Column =
    conv(substring(md5(concat_ws("|", seed, s)), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingles of a token array. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Modulus for the two-hash minhash scheme: 2^55, so even
    * h1 + 127·h2 < 2^62 — no BIGINT overflow in either
    * engine, while i·h2 wraps the modulus many times (the wraparound
    * is what decorrelates the k hash functions; without it the min is
    * dominated by h1 and the k estimators collapse toward one —
    * caught by the estimator property test).
    */
  val MinhashMod: Long = 36028797018963968L // 2^55

  /** Per-shingle hash pairs: one md5 per shingle, h1 = hex chars
    * 1-15, h2 = chars 16-30, both reduced mod 2^55.
    */
  def hashPairs(sh: Column): Column =
    transform(sh, x => struct(
      (conv(substring(md5(x), 1, 15), 16, 10).cast("long")
        % lit(MinhashMod)).as("h1"),
      (conv(substring(md5(x), 16, 15), 16, 10).cast("long")
        % lit(MinhashMod)).as("h2")))

  /** Single 55-bit hash per array element (h1 of [[hashPairs]] without
    * the second hash or the struct) — for overlap joins that only
    * need ONE hash per shingle, e.g. decontamination. DuckDB twin:
    * `CAST('0x'||substring(md5(x),1,15) AS BIGINT) % 2^55`.
    */
  def hash55(sh: Column): Column =
    transform(sh, x =>
      conv(substring(md5(x), 1, 15), 16, 10).cast("long") % lit(MinhashMod))

  /** MinHash signature over hash pairs: sig_i = min((h1 + i·h2) mod
    * 2^55). Estimator: P(sig_a[i]==sig_b[i]) ≈ Jaccard(a,b).
    */
  def minhashSigFromPairs(hp: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      s => array_min(transform(hp,
        p => (p.getField("h1") + s * p.getField("h2")) % lit(MinhashMod))))

  /** MinHash signature straight from a shingle array. */
  def minhashSig(sh: Column, k: Int): Column = minhashSigFromPairs(hashPairs(sh), k)

  /** PRODUCTION-HASH variant of [[hashPairs]] (round-16 verdict task
    * 6): the same two-hash minhash scheme with XXH64 — fully codegen'd
    * and ~2–3× cheaper per byte than the md5 path, which is the
    * deliberate price the default pays for cross-engine oracle parity.
    * NOT oracle-checkable (DuckDB has no XXH64), so this feeds only
    * non-oracle surfaces: the STRESS twin (`lsh_pairs_xx`) and any
    * production deployment that doesn't need DuckDB parity. Since r19
    * the hash is graft's OWN `xx_hash64` (raw-bytes XXH64, seed 0/1 —
    * h1 is bit-parity with CH's `xxHash64`), called by expression
    * rather than the builtin's name: after Graft.init the session name
    * `xxhash64` resolves to the CH raw-bytes semantics (string-only),
    * and a name-resolved builtin here broke in exactly that session
    * (caught by GuardedLshSpec in the shared-suite JVM). CALLERS must
    * run GraftFunctions.register(session) first. pmod (not %) because
    * the hash is signed: the estimator needs both hashes in [0, 2^55).
    */
  def hashPairsFast(sh: Column): Column =
    transform(sh, x => struct(
      pmod(call_function("xx_hash64", x), lit(MinhashMod)).as("h1"),
      pmod(call_function("xx_hash64", x, lit(1L)), lit(MinhashMod)).as("h2")))

  /** [[minhashSig]] over the xxhash64 pairs — same estimator, same
    * band-key layout downstream, different (non-oracle) hash family.
    */
  def minhashSigFast(sh: Column, k: Int): Column =
    minhashSigFromPairs(hashPairsFast(sh), k)

  /** LSH band keys: signature split into `b` bands of `r` rows;
    * documents sharing any band key become candidates. Key strings are
    * "band:csvOfSigSlice" — grouping on them IS the LSH bucketing.
    */
  def bandKeys(sig: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      i => concat_ws(":", i, concat_ws(",", slice(sig, i * lit(r) + lit(1), lit(r)))))

  /** Hot-bucket guard for blocking/band self-joins (r16 verdict
    * "what's wrong" #1). Within one bucket a self-join is quadratic:
    * a single degenerate key holding n rows costs n²/2 comparisons in
    * ONE task — the classic near-dup scale-killer on real web corpora
    * full of identical boilerplate. After exact-dedup composition
    * (identical texts collapsed to one representative) no bucket
    * should be anywhere near `cap`; if one still is, this turns the
    * silent multi-hour straggler into an immediate, actionable error
    * naming the bucket.
    *
    * Plan shape: one window count per key, so `frame` is read once
    * (a count joined back would evaluate it twice). NULL keys form
    * one window partition, so they pass through AND an all-NULL
    * degenerate key is capped like any other. The refusal rides a
    * CASE inside the filter, evaluated per row after the count, so it
    * fires from whichever task meets the hot bucket.
    */
  def guardBuckets(frame: DataFrame, keyCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"guardBuckets: cap $cap must be positive")
    import org.apache.spark.sql.expressions.Window
    frame.withColumn("__bucket_n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .filter(when(col("__bucket_n") > cap,
        raise_error(concat(
          lit("hot bucket: key '"), coalesce(col(keyCol).cast("string"), lit("NULL")),
          lit("' holds "),
          col("__bucket_n").cast("string"),
          lit(s" rows (cap $cap) — a self-join on it is quadratic; "),
          lit("collapse exact duplicates first (Text dedup-groups), "),
          lit("tighten the blocking key, or raise the cap"))))
        .otherwise(lit(true)))
      .drop("__bucket_n")
  }

  /** All intra-bucket id pairs (`a_id < b_id`) of `frame` keyed by
    * `keyCol` — the self-join at the heart of every LSH/blocking
    * near-dup stage, with an explicit hot-bucket POLICY (r17 verdict
    * task 3, the salted escape hatch):
    *
    *  - `saltHotBuckets = 0` (default): buckets above `cap` REFUSE
    *    loudly via [[guardBuckets]] — the production contract. After
    *    exact-dedup composition a hot bucket means >cap near-identical
    *    but not byte-identical variants of one document; stopping with
    *    the bucket named is the right default.
    *  - `saltHotBuckets = s > 0`: the user wants the answer anyway.
    *    Buckets above `cap` are computed with their O(n²) pair work
    *    spread over s(s+1)/2 tasks by TRIANGLE SALTING: each row gets
    *    a deterministic salt g ∈ [0,s) and is replicated to the s
    *    unordered salt-pair tasks containing g; a pair with salts
    *    (gx, gy) materializes exactly once, in task {min,max} (rows
    *    with EQUAL salts share s tasks, so the join keeps a pair only
    *    in its own {gx,gy} task). Cold buckets never pay the
    *    replication — they run the plain equi-self-join.
    *
    * The pair SET is identical under both policies whenever the
    * refusal would not have fired, and salting never changes the
    * output, only the distribution (GuardedLshSpec proves both equal
    * the naive quadratic join on a planted hot corpus). The salt hash
    * is graft's xx_hash64 — safe even for oracle-checked queries
    * because it never reaches the output.
    *
    * Output: (keyCol, a_id, b_id), plus `a_<c>` and `b_<c>` for each
    * `payload` column `c` of `frame` — the pair's own values ride the
    * join, so callers need no join back on the ids.
    *
    * EVALUATION contract (r18 ADVICE): the salted branch references
    * `frame` three times (one counts aggregation + the two sides of
    * the self-join; cold and hot rows share ONE join, so there is no
    * per-branch re-evaluation) — pass a PERSISTED frame when
    * `saltHotBuckets > 0`, or the upstream derivation runs 3×. The
    * default branch reads it once: both sides of the self-join reuse
    * the one exchange below the guard's window count.
    */
  def selfJoinPairs(frame: DataFrame, keyCol: String, idCol: String,
                    cap: Int, saltHotBuckets: Int = 0,
                    payload: Seq[String] = Nil): DataFrame = {
    require(saltHotBuckets >= 0 && saltHotBuckets <= 256,
      s"selfJoinPairs: saltHotBuckets $saltHotBuckets out of 0..256")
    // the salt hash is graft's own xx_hash64 — self-register so the
    // salted path resolves in any session (and is immune to the
    // post-Graft.init shadowing of the builtin's name)
    graft.functions.GraftFunctions.register(frame.sparkSession)
    // <=> throughout: NULL keys form a bucket like they do in
    // guardBuckets — a plain === would silently drop their pairs
    val out = Seq(col(s"a.$keyCol").as(keyCol),
      col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id")) ++
      payload.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c")))
    def pairsOf(f: DataFrame): DataFrame =
      f.as("a").join(f.as("b"),
          col(s"a.$keyCol") <=> col(s"b.$keyCol") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(out: _*)
    if (saltHotBuckets == 0)
      return pairsOf(guardBuckets(frame, keyCol, cap))
    val s = saltHotBuckets
    val counts = frame.groupBy(col(keyCol).as("__sjk"))
      .agg(count(lit(1)).as("__sjn"))
    // <=> for the same NULL-key reason as guardBuckets. Cold rows ride
    // the SAME replicated self-join as hot ones with a sentinel salt
    // (-1) and a single task (-1, -1) — one join covers both, instead
    // of separate cold/hot branches each re-evaluating the input.
    val hot = col("__sjn") > cap
    val repl = frame.join(counts, col(keyCol) <=> col("__sjk"))
      .drop("__sjk")
      .withColumn("__g", when(hot,
        pmod(call_function("xx_hash64", col(idCol).cast("string")),
          lit(s)).cast("int")).otherwise(lit(-1)))
      .withColumn("__t", explode(when(hot,
        sequence(lit(0), lit(s - 1))).otherwise(array(lit(-1)))))
      .withColumn("__ta", least(col("__g"), col("__t")))
      .withColumn("__tb", greatest(col("__g"), col("__t")))
    repl.as("a").join(repl.as("b"),
        col(s"a.$keyCol") <=> col(s"b.$keyCol") &&
          col("a.__ta") === col("b.__ta") &&
          col("a.__tb") === col("b.__tb") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          // keep the pair only in ITS OWN {gx, gy} task (equal-salt
          // pairs co-occur in s tasks; cold pairs only in (-1, -1))
          least(col("a.__g"), col("b.__g")) === col("a.__ta") &&
          greatest(col("a.__g"), col("b.__g")) === col("a.__tb"))
      .select(out: _*)
  }

  /** Exact Jaccard similarity of two pre-distinct arrays. Two EMPTY
    * sets give NULL (not 0/0). A bare division is wrong in BOTH modes:
    * under ANSI (Spark 4 default) it throws DIVIDE_BY_ZERO the first
    * time a corpus holds two sub-shingle-length documents (observed —
    * Spark 4.1 raises for double division too), and with ANSI off it
    * yields NaN, which Spark's NaN-is-largest comparison semantics
    * would KEEP through `filter(jaccard ≥ t)` while the DuckDB oracle
    * (NULL) drops the pair — a silent cross-engine divergence. NULL
    * drops such pairs identically in both engines under both modes.
    */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    size(array_intersect(a, b)).cast("double") /
      when(u > 0, u).cast("double")
  }

  /** Exact substring-level dedup — the ExactSubstr shape of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models
    * Better"): every MAXIMAL token span of length ≥ k whose k-token
    * seeds each occur ≥ `minOcc` times corpus-wide (intra-doc repeats
    * count, as in the paper). The paper's suffix-array pass is
    * re-expressed shuffle-first: one row per (document, span) with
    * 0-based token offsets, inclusive `span_end`, spans per document
    * non-overlapping and ≥ k tokens; two duplicated regions that touch
    * end-to-end merge (a span is a maximal contiguous COVERED region).
    *
    * Mechanics: each token position emits its k-gram seed hash (one
    * md5 per position — the minhash chain's linear map-side cost
    * class); ONE window count partitioned by the hash `h` tags every
    * position with its seed's global occurrence count, read from the
    * emit once; positions whose seed reaches `minOcc` stay and
    * interval-merge under a window PARTITIONED BY document — bounded
    * by document length, never global. A seed at pos covers tokens
    * [pos, pos+k-1]; a new span starts when pos exceeds the running
    * covered end + 1. Seed equality is md5-60-bit ([[mh60]], seed
    * "xspan") — collisions ~2⁻⁶⁰ and bit-identical in the DuckDB
    * oracle, which re-derives this whole chain.
    *
    * 100-TB posture: linear emit, ONE shuffle of the whole seed emit
    * by `h` — always paid, even when few seeds repeat (the old
    * groupBy-count + join-back could broadcast a small duplicated-hash
    * set, but read the emit twice); WindowExec spills, so a hot seed
    * cannot pin memory; then per-document windows — no quadratic term
    * anywhere. At real corpus lengths use the paper's k=50.
    *
    * `fastHash = true` is the production-hash mode (the
    * [[hashPairsFast]] trade): graft's raw-bytes XXH64 expression in
    * place of md5 — the span SET is hash-family independent (seeds
    * match on identical k-grams; only the ~2⁻⁶⁰-class collision term
    * differs), but DuckDB cannot reproduce XXH64, so fast mode feeds
    * only non-oracle surfaces (the STRESS twin, production deploys).
    * Callers must run GraftFunctions.register(session) first.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, minOcc: Int = 2,
                     fastHash: Boolean = false): DataFrame = {
    require(k >= 2, s"duplicateSpans: k $k must be >= 2")
    require(minOcc >= 2, s"duplicateSpans: minOcc $minOcc must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val seedHash: Column => Column =
      if (fastHash) sh => call_function("xx_hash64", concat(lit("xspan|"), sh))
      else sh => mh60(lit("xspan"), sh)
    val seeds = docs
      .select(col(idCol),
        posexplode(shingles(tokens(col(textCol)), k)).as(Seq("pos", "sh")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        seedHash(col("sh")).as("h"))
    // Global seed-occurrence filter as ONE window count over h (r20):
    // the r19 shape (groupBy(h).count → join back on h) referenced
    // `seeds` twice, so the whole tokenize+shingle+md5 emit — the
    // chain's dominant map cost — ran TWICE per call (both subtrees
    // visible in plans/r19/pipe_substring_dedup_before.txt). The
    // count-over-partition window reads the emit once for the same
    // one-shuffle-by-h cost class; WindowExec buffers spill, so a hot
    // seed still cannot pin memory (same degrade path as the old
    // aggregate). Row set after the filter is identical: occ(h) is
    // the same corpus-wide count either way.
    val wh = Window.partitionBy("h") // unordered → whole-partition frame
    val w = Window.partitionBy(idCol).orderBy("pos")
    seeds
      .withColumn("occ", count(lit(1)).over(wh))
      .filter(col("occ") >= minOcc)
      .drop("occ")
      .withColumn("prev_end", max(col("pos") + lit(k - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ns", when(col("prev_end").isNull
        || col("pos") > col("prev_end") + 1, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("ns"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_toks"))
  }

  /** Apply substring-level dedup: rebuild each document's text with
    * the given token spans removed. `spans` is [[duplicateSpans]]
    * output (or any (idCol, span_start, span_end) frame) — every
    * listed span is cut from its document; pass the spans frame
    * pre-filtered to choose a policy (cut-all as produced, or
    * keep-first by exempting one occurrence per duplicate cluster).
    * Documents with no spans pass through unchanged. Returns the
    * input columns plus `<textCol>_dedup`.
    *
    * Mechanics: spans collapse to one per-doc array (bounded by
    * doc length / k), broadcast-friendly left join back onto the
    * documents, and the rebuild is a per-row codegen'd
    * filter-by-position over the token array — map-side, no extra
    * shuffle beyond the one span aggregation. Per-token cost is
    * O(spans-in-doc) (the exists scan), i.e. O(len²/k) only for a
    * pathological maximally-fragmented document — at the paper's
    * k=50 that is ≤ len/50 span probes per token; if a corpus ever
    * makes that bite, the sorted non-overlapping span array admits a
    * single-cursor aggregate fold (spans advance at most once per
    * token), trading this function's readability for O(len).
    */
  def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = tokens(col(textCol))
    docs.join(sp, Seq(idCol), "left")
      .withColumn(s"${textCol}_dedup", array_join(
        filter(toks, (t, i) => coalesce(!exists(col("__spans"),
          s => i.cast("long") >= s.getField("span_start")
            && i.cast("long") <= s.getField("span_end")), lit(true))),
        " "))
      .drop("__spans")
  }

  /** SQL text computing a 32-bit SimHash over the distinct-token array
    * column named `tokset`: bit b is the majority vote of bit b across
    * token hashes. Built as SQL because shiftleft/shiftright need a
    * column shift amount, which the Scala functions API doesn't expose.
    * DuckDB twin uses the same structure with `>>`/`<<` and list_sum.
    */
  def simhash32Sql(tokset: String): String = {
    val mh = s"CAST(conv(substring(md5(concat('0|', t)), 1, 15), 16, 10) AS BIGINT)"
    s"""aggregate(sequence(0, 31), 0L, (acc, b) -> acc +
       |  CASE WHEN 2 * aggregate($tokset, 0L, (a, t) -> a + (shiftright($mh, b) % 2))
       |            > size($tokset)
       |       THEN shiftleft(1L, b) ELSE 0L END)""".stripMargin
  }
}
