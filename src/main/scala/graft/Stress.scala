package graft

import graft.ops.{Aggregates, Graphs, Joins, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Scale-stress leg: synthesize blown-up fixtures (~`mult` × the
  * sf0.1 row counts) ENTIRELY from `spark.range` + deterministic
  * arithmetic — no files written, no rand(), no wall-clock — and run
  * the heavy operator families once, printing one JSON line per
  * family with wall seconds, exchange (shuffle) count from the final
  * AQE plan, and the output row count.
  *
  * Purpose (r7 verdict item 1): the 100 TB story must not rest on
  * plan-shape arguments at 600 k rows alone. Running the same
  * operator code at 1× and 10× and comparing seconds + shuffle
  * counts shows whether each family's cost curve is linear and its
  * plan scale-invariant. Families: MinHash-LSH near-dup pairs +
  * connected components + canonical pick (the full dedup chain),
  * ASOF join, windowFunnel, LIMIT n BY custom exec, BM25.
  *
  *   runMain graft.Stress [mult]   # default 10 (≈ sf1-equivalent)
  */
object Stress {

  /** documents-shaped synth: ~120-word texts from a 24-word pool,
    * deterministic per id; every 10th doc gets a near-dup twin (same
    * text + one appended word) so LSH/CC has real cluster structure.
    */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    // murmur3 hash(id, i, salt) picks words: ~6% BM25 query terms,
    // the rest from a ~20k synthetic vocabulary — random docs share
    // almost no 3-shingles (Jaccard ≈ 0.004), so the ONLY LSH pairs
    // are the planted twins; a small-pool arithmetic pattern here
    // made every doc a near-dup of every other (5 M pairs from 5.5 k
    // docs) and turned the stress leg into an all-pairs test.
    val base = spark.range(n).select($"id".as("doc_id"), expr(
      """array_join(transform(
           sequence(1, 40 + CAST(pmod(hash(id, 7), 161) AS INT)),
           i -> CASE WHEN pmod(hash(id, i, 1), 17) = 0
                THEN elt(1 + CAST(pmod(hash(id, i, 2), 3) AS INT),
                         'scan', 'merge', 'hash')
                ELSE concat('w', CAST(pmod(hash(id, i, 3), 20000) AS STRING))
                END),
         ' ')""").as("text"))
    val dups = base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + n).as("doc_id"),
        concat($"text", lit(" extra")).as("text"))
    base.union(dups)
  }

  /** documents-shaped synth with DIRTY-WEB skew: ~30% of rows are
    * byte-identical boilerplate (3 variants, ~10% each — think cookie
    * banners / license pages), the rest the same near-collision-free
    * word salad as [[synthDocs]]. The adversarial input for the
    * hot-bucket rungs: all 16 minhashes of a boilerplate group are
    * equal, so unguarded LSH banding puts the whole group in ONE
    * bucket per band.
    */
  def synthSkewDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select($"id".as("doc_id"), expr(
      """CASE WHEN pmod(id, 10) < 3 THEN
           concat('variant ', CAST(pmod(id, 3) AS STRING),
             ' terms and conditions apply all rights reserved this page',
             ' is provided as is without warranty of any kind either',
             ' expressed or implied including but not limited to the',
             ' implied warranties of merchantability and fitness for a',
             ' particular purpose see the license for more details')
         ELSE array_join(transform(
           sequence(1, 40 + CAST(pmod(hash(id, 7), 161) AS INT)),
           i -> concat('w', CAST(pmod(hash(id, i, 3), 20000) AS STRING))),
         ' ') END""").as("text"))
  }

  /** events-shaped synth: n rows over `users` users, 2.5 s stride
    * from a fixed epoch, 5 event types, 2-decimal values.
    */
  def synthEvents(spark: SparkSession, n: Long, users: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id".as("event_id"),
      timestamp_micros(lit(1704067200000000L) + $"id" * 2500000L).as("ts"),
      pmod($"id" * 2654435761L, lit(users)).as("user_id"),
      expr("""elt(1 + CAST(pmod(id * 48271, 5) AS INT),
        'view','click','purchase','signup','error')""").as("event_type"),
      (pmod($"id" * 69621L, lit(10000L)) / 100.0).as("value"))
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // EXECUTED exchanges (persisted subtrees counted once) — the raw
  // "Exchange" regex this replaced (pre-r15) re-counted a cached
  // lineage at every reference, so persisting MORE (the r15 bm25/
  // lang_id stage-sharing) paradoxically printed as more exchanges
  private def exchanges(df: DataFrame): Int = Perf.executedExchanges(df)

  private def report(family: String, mult: Int, rows: Long, sec: Double,
                     ex: Int, out: Long): Unit =
    println("STRESS {\"family\":\"" + family + "\",\"mult\":" + mult +
      ",\"rows\":" + rows + ",\"sec\":" + f"$sec%.1f" +
      ",\"exchanges\":" + ex + ",\"out\":" + out + "}")

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val spark = Tuned(SparkSession.builder())
      .appName(s"graft-stress-${mult}x").master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // Text.hashPairsFast resolves graft's xx_hash64 by name
    graft.functions.GraftFunctions.register(spark)

    val nDocs = 5000L * mult
    val nEvents = 100000L * mult
    val nUsers = 1200L * mult

    // ---- dedup chain: minhash → LSH bands → pairs → CC → canonical
    val docs = synthDocs(spark, nDocs)
      .withColumn("toks", Text.tokens($"text"))
      .withColumn("hp",
        Text.hashPairs(array_distinct(Text.shingles($"toks", 3))))
      .withColumn("sh", array_distinct(transform($"hp", p => p.getField("h1"))))
      .withColumn("sig", Text.minhashSigFromPairs($"hp", 16))
      .withColumn("n_toks", size($"toks"))
      .select($"doc_id", $"sh", $"sig", $"n_toks")
      .persist(StorageLevel.DISK_ONLY)
    val (_, tHash) = timed(docs.count())
    val bands = docs.select($"doc_id",
      explode(Text.bandKeys($"sig", 8, 2)).as("bk"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val shs = docs.select($"doc_id", $"sh")
    val pairs = cand
      .join(shs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(shs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .withColumn("jac", Text.jaccard($"sh_a", $"sh_b"))
      .filter($"jac" >= 0.35)
      .select($"doc_a", $"doc_b")
      .persist(StorageLevel.DISK_ONLY)
    val (nPairs, tPairs) = timed(pairs.count())
    report("lsh_pairs", mult, nDocs * 11 / 10, tHash + tPairs,
      exchanges(pairs), nPairs)

    // production-hash twin (r16 verdict task 6): the EXACT same chain
    // with Text.hashPairsFast (xxhash64) in place of the md5 family —
    // same shingles, same band layout, same Jaccard-over-hashed-
    // shingles confirmation — the same-day A/B that prices the
    // md5-for-oracle-parity trade. The pair set out is hash-family
    // independent (the planted twins dominate; 55-bit collisions are
    // negligible at this scale).
    val docsX = synthDocs(spark, nDocs)
      .withColumn("toks", Text.tokens($"text"))
      .withColumn("hp",
        Text.hashPairsFast(array_distinct(Text.shingles($"toks", 3))))
      .withColumn("sh", array_distinct(transform($"hp", p => p.getField("h1"))))
      .withColumn("sig", Text.minhashSigFromPairs($"hp", 16))
      .select($"doc_id", $"sh", $"sig")
      .persist(StorageLevel.DISK_ONLY)
    val (_, tHashX) = timed(docsX.count())
    val bandsX = docsX.select($"doc_id",
      explode(Text.bandKeys($"sig", 8, 2)).as("bk"))
    val candX = bandsX.as("a").join(bandsX.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val shsX = docsX.select($"doc_id", $"sh")
    val pairsX = candX
      .join(shsX.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(shsX.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .withColumn("jac", Text.jaccard($"sh_a", $"sh_b"))
      .filter($"jac" >= 0.35)
      .select($"doc_a", $"doc_b")
    val (nPairsX, tPairsX) = timed(pairsX.count())
    report("lsh_pairs_xx", mult, nDocs * 11 / 10, tHashX + tPairsX,
      exchanges(pairsX), nPairsX)
    docsX.unpersist()

    // ---- r17 adversarial skew rung (r16 verdict task 1): ~30% of the
    // corpus is byte-identical boilerplate (3 variants ≈ 10% each —
    // the one shape the benign-random ladder never exercised). The
    // GUARDED production chain (exact-dedup first → band join over
    // representatives, hot-bucket capped → near-dup GRAPH = rep pairs
    // + linear star edges) must stay flat; the UNGUARDED pre-r17 chain
    // is quadratic per boilerplate bucket (n²/2 comparisons in one
    // task per variant×band) and is therefore only run at mult ≤ 10 —
    // at 100× its candidate count alone is ~3·10¹⁰.
    val skew = synthSkewDocs(spark, nDocs).persist(StorageLevel.DISK_ONLY)
    val nSkew = skew.count()
    locally {
      val groups = skew
        .select($"doc_id", md5($"text").as("__th"))
        .withColumn("rep_id", min($"doc_id")
          .over(org.apache.spark.sql.expressions.Window.partitionBy($"__th")))
        .select($"doc_id", $"rep_id")
        .persist(StorageLevel.DISK_ONLY)
      val repDocs = skew
        .join(groups.filter($"doc_id" === $"rep_id").select($"doc_id"), "doc_id")
        .withColumn("toks", Text.tokens($"text"))
        .withColumn("hp",
          Text.hashPairs(array_distinct(Text.shingles($"toks", 3))))
        .withColumn("sh", array_distinct(transform($"hp", p => p.getField("h1"))))
        .withColumn("sig", Text.minhashSigFromPairs($"hp", 16))
        .select($"doc_id", $"sh", $"sig")
        .persist(StorageLevel.DISK_ONLY)
      val bandsG = Text.guardBuckets(
        repDocs.select($"doc_id", explode(Text.bandKeys($"sig", 8, 2)).as("bk")),
        "bk", 10000)
      val shsG = repDocs.select($"doc_id", $"sh")
      val repPairs = bandsG.as("a").join(bandsG.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .join(shsG.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
        .join(shsG.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
        .filter(Text.jaccard($"sh_a", $"sh_b") >= 0.35)
        .select($"doc_a", $"doc_b")
      val star = groups.filter($"doc_id" =!= $"rep_id")
        .select($"rep_id".as("doc_a"), $"doc_id".as("doc_b"))
      val edges = repPairs.unionByName(star)
      val (nEdges, tG) = timed(edges.count())
      report("lsh_skew_guarded", mult, nSkew, tG,
        exchanges(edges), nEdges)
      groups.unpersist(); repDocs.unpersist()
    }
    if (mult <= 10) {
      val docsU = skew
        .withColumn("toks", Text.tokens($"text"))
        .withColumn("hp",
          Text.hashPairs(array_distinct(Text.shingles($"toks", 3))))
        .withColumn("sh", array_distinct(transform($"hp", p => p.getField("h1"))))
        .withColumn("sig", Text.minhashSigFromPairs($"hp", 16))
        .select($"doc_id", $"sh", $"sig")
        .persist(StorageLevel.DISK_ONLY)
      val bandsU = docsU.select($"doc_id",
        explode(Text.bandKeys($"sig", 8, 2)).as("bk"))
      val shsU = docsU.select($"doc_id", $"sh")
      val pairsU = bandsU.as("a").join(bandsU.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .join(shsU.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
        .join(shsU.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
        .filter(Text.jaccard($"sh_a", $"sh_b") >= 0.35)
        .select($"doc_a", $"doc_b")
      val (nPairsU, tU) = timed(pairsU.count())
      report("lsh_skew_unguarded", mult, nSkew, tU,
        exchanges(pairsU), nPairsU)

      // ---- r19 salted-hatch pricing (r18 verdict task 7): the SAME
      // corpus, still WITHOUT exact-dedup-first, but with the escape
      // hatch on — cap 1000 forces the boilerplate band buckets hot
      // (each holds ~10% of the corpus), and saltHotBuckets=s spreads
      // each bucket's O(n²) pair work over s(s+1)/2 tasks. The pair
      // SET equals the unguarded rung's (GuardedLshSpec); what salting
      // buys is straggler removal, NOT asymptotics — the pair volume
      // is the same quadratic term, so exact-dedup-first composition
      // (lsh_skew_guarded, ~linear) remains the production answer for
      // byte-identical storms. The hatch's real use case is
      // near-identical VARIANT storms, where representatives don't
      // collapse and the quadratic work is genuinely irreducible.
      for (s <- Seq(8, 16)) {
        val pairsS = Text.selfJoinPairs(bandsU, "bk", "doc_id", 1000, s)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
          .distinct()
          .join(shsU.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
          .join(shsU.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
          .filter(Text.jaccard($"sh_a", $"sh_b") >= 0.35)
          .select($"doc_a", $"doc_b")
        val (nPairsS, tS) = timed(pairsS.count())
        report(s"lsh_skew_salted_s$s", mult, nSkew, tS,
          exchanges(pairsS), nPairsS)
      }
      docsU.unpersist()
    }
    skew.unpersist()

    val cc = Graphs.connectedComponents(pairs, "doc_a", "doc_b")
      .persist(StorageLevel.DISK_ONLY)
    val (nCc, tCc) = timed(cc.select($"component").distinct().count())
    // canonical pick: longest doc (ties → smallest id) per cluster
    val pick = cc.join(docs.select($"doc_id".as("id"), $"n_toks"), "id")
      .groupBy($"component")
      .agg(max(struct($"n_toks", -$"id")).as("m"))
    val (nPick, tPick) = timed(pick.count())
    report("dedup_cc_pick", mult, nPairs, tCc + tPick, exchanges(pick), nPick)

    // ---- semantic dedup (r18, pipe_semdedup's chain): feature-hash
    // embeddings → banded hyperplane LSH → cosine-confirmed pairs →
    // CC clusters. The heavy stage is the 64-plane dot fold (4096
    // multiply-adds/doc — map-side, linear in docs); candidates stay
    // a guarded band equi-join. `out` = clusters found; the planted
    // twins sit at cos ≈ 0.98, where the 4×16-bit banding's recall is
    // ~0.7 — `out` tracking ~0.7·planted at every rung IS the
    // documented recall knob holding across scale.
    graft.functions.GraftFunctions.register(spark)
    // r19: the rung now runs through the parameterized library
    // operator (ops/SemDedup) — the same code path as pipe_semdedup —
    // at BOTH band geometries: 4×16-bit (the gate default; spurious
    // candidates ~ 4·n²/2¹⁶) and 4×24-bit (the documented 100-TB
    // setting; the same term cut 256× per band). `cand` = the raw
    // banded candidate-pair count BEFORE cosine confirmation — the
    // spurious term itself, reported as a separate rung so its scale
    // curve is measured, not inferred from wall time.
    for ((bits, tag) <- Seq(16 -> "semdedup", 24 -> "semdedup24")) {
      val p = graft.ops.SemDedupParams(bands = 4, bitsPerBand = bits)
      val semv = graft.ops.SemDedup
        .featureVecs(synthDocs(spark, nDocs), "doc_id", "text", p)
        .persist(StorageLevel.DISK_ONLY)
      val (_, tVec) = timed(semv.count())
      val semCand = graft.ops.Text.selfJoinPairs(
          graft.ops.SemDedup.bandKeys(semv, "doc_id", p), "bk", "doc_id", p.cap)
        .select($"a_id", $"b_id").distinct()
      val (nCand, tCand) = timed(semCand.count())
      report(s"${tag}_cand", mult, nDocs * 11 / 10, tVec + tCand,
        exchanges(semCand), nCand)
      val semPairs = graft.ops.SemDedup.pairsFromVecs(semv, "doc_id", p)
        .select($"a_id".as("doc_a"), $"b_id".as("doc_b"))
        .persist(StorageLevel.DISK_ONLY)
      val (_, tSem) = timed(semPairs.count())
      val semCc = Graphs.connectedComponents(semPairs, "doc_a", "doc_b")
        .select($"component").distinct()
      val (nClust, tSemCc) = timed(semCc.count())
      report(tag, mult, nDocs * 11 / 10, tVec + tSem + tSemCc,
        exchanges(semCc), nClust)
      semv.unpersist(); semPairs.unpersist()
    }
    pairs.unpersist(); cc.unpersist()

    // ---- exact substring-level dedup (r19, pipe_substring_dedup's
    // operator): positional 25-gram seed emit (linear in corpus
    // tokens) → ONE global occurrence count → per-doc interval merge
    // under a doc-partitioned window. The planted twins (10% of base
    // docs duplicated verbatim + " extra") each contribute one
    // full-width duplicated span on BOTH sides, so `out` tracks
    // 2·(n/10) span rows at every rung; random 25-grams in this
    // vocabulary never collide. The claim: linear wall time, flat
    // exchange count — the paper's suffix-array pass re-expressed as
    // two shuffles.
    val spanDocs = synthDocs(spark, nDocs)
    val spans = Text.duplicateSpans(spanDocs, "doc_id", "text", k = 25)
    val (nSpans, tSpans) = timed(spans.count())
    report("substring_dedup", mult, nDocs * 11 / 10, tSpans,
      exchanges(spans), nSpans)
    // production-hash twin (the hashPairsFast trade, measured here
    // too): XXH64 seeds instead of md5 — identical span set, the
    // per-position hash is the dominant cost at every rung
    val spansX = Text.duplicateSpans(spanDocs, "doc_id", "text",
      k = 25, fastHash = true)
    val (nSpansX, tSpansX) = timed(spansX.count())
    report("substring_dedup_xx", mult, nDocs * 11 / 10, tSpansX,
      exchanges(spansX), nSpansX)

    // ---- BM25 over the same corpus (r15, same shape as the declared
    // pipe_bm25: ZERO corpus-wide exchanges — token_counts generator
    // finishes tf within the row, broadcast terms semi-join shrinks
    // the corpus immediately, dl is a map-side projection)
    graft.functions.GraftFunctions.register(spark)
    val bmDocs = synthDocs(spark, nDocs)
    val tf = bmDocs.select($"doc_id",
      expr("token_counts(split(text, ' '))"))
    val terms = Seq("scan", "merge", "hash").toDF("tok")
    val matchedBm = tf.join(broadcast(terms), "tok")
      .persist(StorageLevel.DISK_ONLY)
    val dl = bmDocs.select($"doc_id",
      size(Text.tokens($"text")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val dft = matchedBm.groupBy($"tok").agg(count(lit(1)).as("df"))
    val bm25 = matchedBm
      .join(dl, "doc_id")
      .join(broadcast(dft), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        round(log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) * ($"tf" * 2.2) /
          ($"tf" + lit(1.2) * (lit(1.0) - 0.75 +
            lit(0.75) * $"dl" / ($"sumdl".cast("double") / $"n"))), 6)
          .cast("decimal(18,6)"))
      .groupBy($"doc_id").agg(sum($"c").as("sc"))
      .orderBy($"sc".desc, $"doc_id").limit(10)
    val (top, tBm) = timed(bm25.collect())
    report("bm25", mult, nDocs * 11 / 10, tBm, exchanges(bm25), top.length)
    matchedBm.unpersist(); docs.unpersist()

    // ---- lang-ID (decomposed naive Bayes — the corpus joins the
    // profile table ONCE on tok; penalty constants broadcast).
    // Parameterized over |langs| and the winner-pick shape so the
    // r15 claim "the map+argmax win scales with |langs|" is a
    // MEASUREMENT (r16 verdict task 5): lang_id = the declared
    // pipe_lang_id shape at 4 langs; lang_id_100 = the same shape at
    // a realistic 100 profiles; lang_id_100_win = the r14 shape
    // (docs×|langs| score rows + per-doc window sort) at 100 profiles
    // — the A/B that quantifies what the map+argmax rewrite buys as
    // |langs| grows.
    def langIdLeg(nLangs: Int, windowShape: Boolean): (Long, Double, Int) = {
      val ldocs = synthDocs(spark, nDocs)
        .withColumn("lang",
          concat(lit("l"), pmod(hash($"doc_id", lit(13)), lit(nLangs))))
      val D = "decimal(18,6)"
      // token_counts generator (r15): tf finished within the row — the
      // exploded corpus never reaches an exchange (same shape as the
      // declared pipe_lang_id).
      // |langs| > 4 runs with a ~2%-SHARED vocabulary (tokens salted by
      // the doc's language): real language profiles are mostly disjoint
      // token sets, so the evidence join fans out ~3×, not ×|langs| —
      // the fully-shared 4-lang leg is the dense worst case, and at
      // |langs|=100 that worst case is inherently O(docs×langs) rows
      // (measured: it spills hundreds of GB at mult=100 — no tail shape
      // fixes a dense profile join; sparsity is the real-world reason
      // lang-ID scales).
      val dtRaw = ldocs.select($"doc_id", $"lang",
        expr("token_counts(split(text, ' '))"))
      val dt = (if (nLangs <= 4) dtRaw
        else dtRaw.withColumn("tok",
          when(pmod(hash($"tok"), lit(50)) === 0, $"tok")
            .otherwise(concat($"lang", lit("_"), $"tok"))))
        .persist(StorageLevel.DISK_ONLY)
      val prof2 = dt.groupBy($"lang".as("plang"), $"tok").agg(sum($"tf").as("c"))
        .persist(StorageLevel.DISK_ONLY)
      val vocab2 = prof2.agg(countDistinct($"tok").as("v"))
      val consts2 = prof2.groupBy($"plang").agg(sum($"c").as("n_l"))
        .crossJoin(broadcast(vocab2))
        .select($"plang",
          round(log(($"n_l" + $"v").cast("double")), 6).cast(D).as("logd"))
      val matched2 = dt
        .join(prof2.select($"plang", $"tok",
          round(log($"c" + 1), 6).cast(D).as("logc")), Seq("tok"))
        .groupBy($"doc_id", $"lang", $"plang")
        .agg(sum($"logc" * $"tf").as("msum"), sum($"tf").as("mtf"))
      val langId =
        if (windowShape) {
          // r14 shape: the docs×|langs| score grid MATERIALIZES as rows
          // (one per doc per candidate lang with any matched evidence),
          // then a per-doc window sort picks the winner — the shuffle
          // and sort both scale with |langs|
          val scored = matched2
            .withColumn("ntf",
              max(when($"plang" === $"lang", $"mtf"))
                .over(Window.partitionBy($"doc_id")))
            .join(broadcast(consts2), "plang")
            .withColumn("s",
              ($"msum" - coalesce($"ntf", lit(0)) * $"logd")
                .cast("decimal(38,6)"))
          scored
            .withColumn("rn", row_number().over(
              Window.partitionBy($"doc_id").orderBy($"s".desc, $"plang")))
            .filter($"rn" === 1)
            .groupBy($"lang", $"plang").agg(count(lit(1)).as("n"))
        } else {
          // r15 shape (same as the declared pipe_lang_id): per-doc
          // matched evidence folds into a map, constants broadcast as
          // ONE map row, winner = argmax inside one aggregate() — the
          // docs×|langs| grid never materializes and there is no
          // window sort
          val cmapRow2 = consts2
            .agg(map_from_entries(collect_list(struct($"plang", $"logd")))
              .as("cmap"))
          matched2.groupBy($"doc_id", $"lang")
            .agg(map_from_entries(collect_list(struct($"plang", $"msum")))
              .as("mmap"),
              max(when($"plang" === $"lang", $"mtf")).as("ntf"))
            .crossJoin(broadcast(cmapRow2))
            .withColumn("plang", expr("""
              aggregate(
                transform(map_keys(cmap),
                  k -> named_struct(
                         's', CAST(coalesce(element_at(mmap, k), 0)
                                   - ntf * element_at(cmap, k) AS DECIMAL(38,6)),
                         'p', k)),
                CAST(NULL AS STRUCT<s: DECIMAL(38,6), p: STRING>),
                (acc, e) -> CASE WHEN acc IS NULL OR e.s > acc.s
                                      OR (e.s = acc.s AND e.p < acc.p)
                                 THEN e ELSE acc END).p"""))
            .groupBy($"lang", $"plang").agg(count(lit(1)).as("n"))
        }
      val (lrows, tL) = timed(langId.collect())
      val ex = exchanges(langId)
      dt.unpersist(); prof2.unpersist()
      (lrows.length.toLong, tL, ex)
    }
    val (l4, t4, e4) = langIdLeg(4, windowShape = false)
    report("lang_id", mult, nDocs * 11 / 10, t4, e4, l4)
    val (l100, t100, e100) = langIdLeg(100, windowShape = false)
    report("lang_id_100", mult, nDocs * 11 / 10, t100, e100, l100)
    val (l100w, t100w, e100w) = langIdLeg(100, windowShape = true)
    report("lang_id_100_win", mult, nDocs * 11 / 10, t100w, e100w, l100w)

    // ---- adversarial-chain connected components (r16 verdict task 4):
    // `mult` disjoint PATH graphs of 10k nodes each — diameter 10⁴,
    // the shape where min-label propagation degrades (one hop/round ⇒
    // 10⁴ rounds) and star-contraction's O(log² n) pointer doubling is
    // the upgrade. cc_chain_star must contract fully (out = mult
    // components) in ~log₂(10⁴) ≈ 14 rounds at EVERY mult — flat
    // rounds, linear time. cc_chain_prop20 is the degradation control:
    // propagation at its default 20-round budget, out = distinct
    // labels still standing (≫ mult shows WHY the star variant exists).
    val chainLen = 10000L
    val nChainNodes = chainLen * mult
    val chainEdges = spark.range(nChainNodes)
      .filter($"id" % chainLen =!= (chainLen - 1))
      .select(($"id" + 1).as("a"), $"id".as("b"))
    val ccStar = Graphs.connectedComponentsStar(chainEdges, "a", "b")
    val (nStar, tStar) = timed(ccStar.select($"component").distinct().count())
    report("cc_chain_star", mult, nChainNodes, tStar, exchanges(ccStar), nStar)
    val ccProp = Graphs.connectedComponents(chainEdges, "a", "b", maxIter = 20)
    val (nProp, tProp) = timed(ccProp.select($"component").distinct().count())
    report("cc_chain_prop20", mult, nChainNodes, tProp, exchanges(ccProp),
      nProp)

    // ---- events families
    val events = synthEvents(spark, nEvents, nUsers)
      .persist(StorageLevel.DISK_ONLY)
    events.count()

    // ASOF: every event joined to the latest at-or-before "quote"
    // (every 20th event of the same user)
    val quotes = events.filter($"event_id" % 20 === 0)
      .select($"user_id", $"ts", $"value".as("qv"))
    val asof = Joins.asofJoin(
      events.select($"user_id", $"ts", $"event_id"), quotes,
      Seq("user_id"), "ts", "ts", Seq("qv"))
      .agg(count(lit(1)).as("n"),
        sum($"asof_qv".cast("decimal(22,6)")).as("s"))
    val (asofRow, tAsof) = timed(asof.collect())
    report("asof", mult, nEvents, tAsof, exchanges(asof),
      asofRow.head.getLong(0))

    // ---- s2 cell-blocked radius join (r16 native s2 index): n left
    // × n right points spread over the FULL sphere — lat spans
    // [-90, 89.999] so the south pole itself and both polar caps are
    // genuinely in the data (uniform-in-lat oversamples the poles,
    // which is the adversarial regime for any lat/lon grid), plus the
    // antimeridian. 10 km radius at level 9. Cost shape: explode ×13
    // (3×3 block + 4 distance-2 cells, the orientation-safe corner
    // construction — see Joins.s2RadiusJoin) + ONE shuffle on the
    // cell key + per-candidate haversine — never the n² cross join
    // (at 100× that would be 2.5e13 pairs; the blocked join touches
    // ~1e-6 of them).
    val nPts = 50000L * mult
    val ptsL = spark.range(nPts).select($"id".as("lid"),
      (pmod(hash($"id", lit(1)), lit(180000)).cast("double") / 1000.0 - 90.0)
        .as("lat1"),
      (pmod(hash($"id", lit(2)), lit(360000)).cast("double") / 1000.0 - 180.0)
        .as("lon1"))
    val ptsR = spark.range(nPts).select(($"id" + nPts).as("rid"),
      (pmod(hash($"id", lit(3)), lit(180000)).cast("double") / 1000.0 - 90.0)
        .as("lat2"),
      (pmod(hash($"id", lit(4)), lit(360000)).cast("double") / 1000.0 - 180.0)
        .as("lon2"))
    val s2join = Joins.s2RadiusJoin(ptsL, ptsR,
        "lon1", "lat1", "lon2", "lat2", radiusMeters = 10000.0, level = 9)
      .agg(count(lit(1)).as("n"))
    val (s2Row, tS2) = timed(s2join.collect())
    report("s2_radius_join", mult, nPts * 2, tS2, exchanges(s2join),
      s2Row.head.getLong(0))

    // windowFunnel depth histogram (7-day window, 3 steps)
    val wf = udaf(new Aggregates.WindowFunnel(7L * 86400L * 1000000L, 3))
    val funnel = events
      .withColumn("step", expr(
        """CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
           WHEN 'purchase' THEN 3 ELSE 0 END"""))
      .filter($"step" > 0)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"step")
      .groupBy($"user_id").agg(wf($"tsUs", $"step").as("depth"))
      .groupBy($"depth").agg(count(lit(1)).as("users"))
    val (fRows, tF) = timed(funnel.collect())
    report("funnel", mult, nEvents, tF, exchanges(funnel), fRows.length)

    // exact quantiles over the RAW value vector (r12's QuantileExact
    // TypedImperativeAggregate: primitive double-vector state, concat
    // merge, one sort at finish) — hot groups of nEvents/5 values
    // each; the 2^27 per-group cap throws loudly far above this scale
    graft.functions.GraftFunctions.register(spark)
    val qe = events.groupBy($"event_type")
      .agg(expr("graft_quantile_exact(CAST(value AS DOUBLE), " +
        "array(0.5D, 0.99D))").as("q"))
    val (qRows, tQ) = timed(qe.collect())
    report("quantile_exact_raw", mult, nEvents, tQ, exchanges(qe),
      qRows.length)

    // ClickBench heavy shapes on the same events (cb43 suite):
    // q32 = the FULL-TABLE high-cardinality GROUP BY (watch_id,
    // client_ip) — CB's partial-aggregation shuffle stressor, nearly
    // every row its own group; q29 = 90 independent sums in ONE
    // map-side pass (plan must stay a single partial→final agg, 1
    // exchange, regardless of scale)
    val cbHits = events.selectExpr(
      "event_id AS watch_id",
      "CAST(167772160 + (user_id * 2654435761) % 1048576 AS BIGINT) AS client_ip",
      "CAST(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_refresh",
      "CAST(800 + (event_id % 8) * 40 AS BIGINT) AS res_width")
    val cb32 = cbHits.groupBy($"watch_id", $"client_ip")
      .agg(count(lit(1)).as("c"), sum($"is_refresh").as("sr"),
        avg($"res_width").as("a"))
      .orderBy($"c".desc, $"watch_id").limit(10)
    val (cbRows, tCb) = timed(cb32.collect())
    report("clickbench_q32", mult, nEvents, tCb, exchanges(cb32),
      cbRows.length)
    val sumCols = (0 until 90).map(i => sum($"res_width" + i).as(s"s$i"))
    val cb29 = cbHits.agg(sumCols.head, sumCols.tail: _*)
    val (r29, t29) = timed(cb29.collect())
    report("clickbench_q29", mult, nEvents, t29, exchanges(cb29), r29.length)

    // q17/q22 analogs (r15): the remaining CB heavy half — q17 is the
    // TWO-KEY high-cardinality grouping (user × phrase, most groups
    // singletons) and q22 stacks LIKE filters + min(string) + COUNT
    // DISTINCT on top of it (the distinct adds the expand/re-shuffle
    // leg). Both must keep flat exchange counts as the table scales.
    val cbTxt = events.selectExpr(
      "event_id AS watch_id",
      "user_id",
      """CASE WHEN event_id % 5 = 0 THEN ''
              ELSE concat('phrase ', CAST(user_id % 997 AS STRING),
                          ' q', CAST(event_id % 13 AS STRING)) END
         AS search_phrase""",
      """concat('http://site', CAST(event_id % 1000 AS STRING),
                CASE WHEN event_id % 7 = 0 THEN '.google.com/'
                     ELSE '.example.com/' END,
                CAST(event_id % 100 AS STRING)) AS url""",
      """concat(CASE WHEN event_id % 3 = 0 THEN 'Google ' ELSE 'Page ' END,
                CAST(event_id % 50 AS STRING)) AS title""")
    val cb17 = cbTxt.groupBy($"user_id", $"search_phrase")
      .agg(count(lit(1)).as("c"))
      .orderBy($"user_id", $"search_phrase").limit(10)
    val (r17, t17) = timed(cb17.collect())
    report("clickbench_q17", mult, nEvents, t17, exchanges(cb17), r17.length)
    val cb22 = cbTxt
      .filter($"title".like("%Google%") && !$"url".like("%.google.%") &&
        $"search_phrase" =!= "")
      .groupBy($"search_phrase")
      .agg(min($"url").as("mu"), min($"title").as("mt"),
        count(lit(1)).as("c"), countDistinct($"user_id").as("u"))
      .orderBy($"c".desc, $"search_phrase").limit(10)
    val (r22, t22) = timed(cb22.collect())
    report("clickbench_q22", mult, nEvents, t22, exchanges(cb22), r22.length)

    // r18 stretch (r17 verdict task 8): the neighbor-key CB shape
    // (cb43_q35 class — ONE logical key spelled as four derived
    // grouping columns; the planner must not grow exchanges for the
    // arithmetic aliases) ...
    val cb35 = cbHits.groupBy($"client_ip", ($"client_ip" - 1).as("c1"),
        ($"client_ip" - 2).as("c2"), ($"client_ip" - 3).as("c3"))
      .agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"client_ip").limit(10)
    val (r35, t35) = timed(cb35.collect())
    report("clickbench_q35", mult, nEvents, t35, exchanges(cb35), r35.length)
    // ... and the WINDOW-FUNCTION rung the family lacked: per-user
    // ordered rank + lag + running sum — all three frames share ONE
    // shuffle on the partition key (never a global unpartitioned
    // window), then a grouped reduction. Exchange count must stay
    // flat (partition-by shuffle + final agg) as events scale 100×.
    val uw = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val winAgg = events
      .withColumn("rn", row_number().over(uw))
      .withColumn("prev_v", lag($"value", 1).over(uw))
      .withColumn("run", sum($"value").over(
        uw.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .filter($"rn" <= 5)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        avg($"value" - coalesce($"prev_v", lit(0.0))).as("d"),
        max($"run").as("mr"))
    val (rW, tW) = timed(winAgg.collect())
    report("window_user_rank", mult, nEvents, tW, exchanges(winAgg),
      rW.length)

    // r12 waves 27–30: the collected/moment-state stats family in ONE
    // grouped pass — rankCorr + intervalLengthSum collect O(group)
    // pairs (hot groups of nEvents/5), ANOVA and the association
    // family keep O(k)/O(distinct-pairs) maps, LinRegFit keeps an
    // O(d²) Gram — the leg shows the single partial→final shape and
    // the linear cost curve hold as groups grow 10×/100×
    val statsDf = events
      .withColumn("v", $"value".cast("double"))
      .withColumn("grp", ($"event_id" % 3).cast("long"))
      .groupBy($"event_type")
      .agg(
        udaf(new Aggregates.RankCorr)
          .apply($"v", $"user_id".cast("double")).as("rc"),
        udaf(new Aggregates.AnovaF).apply($"v", $"grp").as("af"),
        udaf(new Aggregates.IntervalLengthSum)
          .apply($"v", $"v" + lit(1.5)).as("ils"),
        udaf(new Aggregates.AssocContingency("cramersV"))
          .apply($"event_type", ($"user_id" % 7).cast("string")).as("cv"),
        udaf(new Aggregates.LinRegFit(2, 0.1))
          .apply($"v", array($"user_id".cast("double"),
            ($"event_id" % 97).cast("double"))).as("fit"))
    val (sRows, tS) = timed(statsDf.collect())
    report("stats_collected", mult, nEvents, tS, exchanges(statsDf),
      sRows.length)

    // LIMIT 2 BY user_id through the custom partial/final exec
    val lb = graft.plans.LimitByPlan.limitBy(events, Seq("user_id"), 2,
      Seq(("value", false), ("event_id", true)))
    val (nLb, tLb) = timed(lb.count())
    report("limit_by_exec", mult, nEvents, tLb, exchanges(lb), nLb)

    // ---- streaming: stateful SpaceSaving topK over a FILE-STREAM
    // replay of the same events (r15) — scale evidence for the
    // streaming path, not just batch: state is O(types × cap),
    // independent of input length. maxFilesPerTrigger splits the
    // replay into real micro-batches so per-batch state load/commit
    // is exercised, not a single mega-batch. `out` = rows/sec.
    // r16 (verdict task 3): three rungs — the original 8-file
    // micro-batches (continuity control), 64-file batches (the
    // micro-batch-sizing A/B), and 64-file under the RocksDB provider
    // (the at-scale state backend the recovery spec already covers).
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_stress_stream").toString
    events.select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .write.mode("overwrite").parquet(sdir)
    val sschema = spark.read.parquet(sdir).schema
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    def streamLeg(family: String, filesPerTrigger: Int,
        rocksDb: Boolean): Unit = {
      if (rocksDb) spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val sq = graft.streaming.StreamDemo.streamingTopK(
            spark.readStream.schema(sschema)
              .option("maxFilesPerTrigger", filesPerTrigger).parquet(sdir))
          .toDF("event_type", "top")
          .writeStream.format("noop").outputMode("update").start()
        val (_, tStream) = timed { sq.processAllAvailable(); sq.stop() }
        report(family, mult, nEvents, tStream, 0,
          (nEvents / math.max(tStream, 0.001)).toLong)
      } finally if (rocksDb) spark.conf.unset(provKey)
    }
    // r17 (verdict task 8): locate the micro-batch-size KNEE. The
    // replay directory holds exactly 32 files (range → 32 partitions),
    // so the trigger ladder is really a BATCH-COUNT ladder: 8 files =
    // 4 micro-batches, 16 = 2, 64 = 1 (and a "256-file" rung would be
    // IDENTICAL to 64 — the stretch task's literal spelling is vacuous
    // here; the knee is what it was after). Fewer, larger batches pay
    // less per-batch state load/commit; where the curve flattens is
    // the documented optimum (STRESS.md).
    streamLeg("streaming_topk", 8, rocksDb = false)
    streamLeg("streaming_topk_b16", 16, rocksDb = false)
    streamLeg("streaming_topk_b64", 64, rocksDb = false)
    streamLeg("streaming_topk_rocks", 64, rocksDb = true)

    events.unpersist()
    spark.stop()
  }
}
