package graft

import graft.ops.{Graphs, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r17 hot-bucket-guarded near-dup family (exact-dedup-first +
  * capped band join + rep-pair expansion / star edges) must be
  * BIT-IDENTICAL to the unguarded quadratic chain it replaced. The
  * driver's DuckDB gate proves that on the fixtures — but the fixtures
  * contain ZERO exact-duplicate texts, so the expansion and star-edge
  * paths would go untested there. This spec plants a duplicate-heavy
  * corpus (dup groups of 4/3/2, an empty-shingle dup group, near-dup
  * twins ACROSS groups) and checks every family entry against the
  * pre-r17 unguarded chain computed inline.
  */
class GuardedLshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** documents.parquet fixture dir with planted duplicate structure. */
  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("guarded_lsh").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda" // near-dup of t1
    val rows =
      // dup group A: 4 copies of t1 (rep 100)
      Seq(100L, 101L, 102L, 103L).map(i => (i, t1)) ++
      // dup group B: 3 copies of t2 (rep 200) — near-dup of group A
      Seq(200L, 201L, 202L).map(i => (i, t2)) ++
      // dup group C: 2 copies of a 2-token text — EMPTY shingle set,
      // so the unguarded chain drops its pairs (Jaccard NULL)
      Seq(300L, 301L).map(i => (i, "a b")) ++
      // singletons, including a near-dup twin pair (5, 6)
      (1L to 20L).map(i => (i,
        if (i == 6) "mu nu xi omicron pi rho sigma tau upsilon XX"
        else if (i == 5) "mu nu xi omicron pi rho sigma tau upsilon phi"
        else s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"))
    rows.toDF("doc_id", "text")
      .withColumn("lang", when($"doc_id" % 2 === 0, "en").otherwise("de"))
      .withColumn("source", lit("synth"))
      .withColumn("n_chars", length($"text"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** The pre-r17 UNGUARDED chain: every doc hashed, quadratic band
    * self-join over all docs — the reference semantics.
    */
  private def unguardedPairs(threshold: Double): DataFrame = {
    val s = spark
    import s.implicits._
    val hashed = Tables(s, dir, "documents")
      .withColumn("toks", Text.tokens($"text"))
      .withColumn("hp", Text.hashPairs(array_distinct(Text.shingles($"toks", 3))))
      .withColumn("sh", array_distinct(transform($"hp", p => p.getField("h1"))))
      .withColumn("sig", Text.minhashSigFromPairs($"hp", 16))
      .select($"doc_id", $"sh", $"sig")
    val bands = hashed.select($"doc_id",
      explode(Text.bandKeys($"sig", 8, 2)).as("bk"))
    bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(hashed.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(hashed.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .withColumn("jac", Text.jaccard($"sh_a", $"sh_b"))
      .filter($"jac" >= threshold)
      .select($"doc_a", $"doc_b", $"jac")
  }

  test("pipe_minhash_lsh: guarded expansion equals the unguarded chain") {
    val got = SparkEntry.queries("pipe_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = unguardedPairs(0.35)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty)
    // the planted structure actually exercises every path:
    // intra-group (100,101), cross-group (100,200)-expansion, twins (5,6)
    assert(want.contains((100L, 101L, 1.0)), "intra-group pair missing from reference")
    assert(want.exists(p => p._1 == 100L && p._2 == 200L), "cross-group pair missing")
    assert(want.exists(p => p._1 == 5L && p._2 == 6L), "twin pair missing")
    assert(!want.exists(p => p._1 == 300L), "empty-shingle pair must be dropped")
    assert(got == want,
      s"guarded != unguarded: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
  }

  test("pipe_dedup_components/_star/_canonical equal CC over the unguarded graph") {
    val wantComp = Graphs
      .connectedComponents(unguardedPairs(0.35).select("doc_a", "doc_b"),
        "doc_a", "doc_b")
      .groupBy(col("component"))
      .agg(sort_array(collect_list(col("id"))).as("members"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    // groups A and B merge into one cluster {100..103, 200..202};
    // the empty-shingle dup group 300/301 must NOT form a cluster
    assert(wantComp.contains((100L, List(100L, 101L, 102L, 103L, 200L, 201L, 202L))))
    assert(!wantComp.exists(_._2.contains(300L)))
    for (entry <- Seq("pipe_dedup_components", "pipe_dedup_components_star")) {
      val got = SparkEntry.queries(entry)(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getString(2).split(",").map(_.toLong).toList))
        .toSet
      assert(got == wantComp, s"$entry: got=$got want=$wantComp")
    }
    val gotCanon = SparkEntry.queries("pipe_dedup_canonical")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // cluster 100: t2 ('…iota lambda', 60 chars) is one char longer
    // than t1 ('…iota kappa'), so the longest doc kept is 200 (ties
    // inside the t2 triplet break to the smallest id), 6 dropped
    assert(gotCanon.contains((100L, 200L, 6L)), s"canonical: $gotCanon")
    assert(gotCanon.contains((5L, 5L, 1L)), s"canonical: $gotCanon")
  }

  test("pipe_curation_e2e: per-member loser algebra equals the unguarded chain") {
    val s = spark
    import s.implicits._
    val losers = unguardedPairs(0.5).select($"doc_b".as("doc_id")).distinct()
    val want = Tables(s, dir, "documents")
      .withColumn("q", size(Text.tokens($"text")) * 2 + length($"text") % 7)
      .join(losers.withColumn("is_dup", lit(1)), Seq("doc_id"), "left")
      .withColumn("status",
        when($"is_dup" === 1, "dup")
          .when($"q" < 100, "low_quality")
          .otherwise("kept"))
      .groupBy($"lang")
      .agg(count(when($"status" === "kept", 1)).as("kept"),
        count(when($"status" === "dup", 1)).as("dropped_dup"),
        count(when($"status" === "low_quality", 1)).as("dropped_quality"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val got = SparkEntry.queries("pipe_curation_e2e")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // duplicates exist in both langs (ids 101/103 de, 102 en, ...)
    assert(want.exists(_._3 > 0), s"reference has no dups: $want")
    assert(got == want, s"curation guarded=$got unguarded=$want")
  }

  test("selfJoinPairs: salted hot buckets equal the naive quadratic join") {
    val s = spark
    import s.implicits._
    // a NEAR-IDENTICAL (not byte-identical) family: exact dedup can't
    // collapse it, so above the cap the default policy must refuse and
    // the salted policy must complete with the identical pair set —
    // the r17 verdict's "decided, not implicit" requirement
    val rnd = new scala.util.Random(7)
    val frame = (
      (1L to 120L).map(i => (i, "hot")) ++ // one hot bucket, n=120 > cap
      (1L to 30L).map(i => (1000L + i, s"cold${i % 7}")) ++ // cold buckets
      Seq((2000L, null.asInstanceOf[String]), (2001L, null),
        (2002L, null)) // a NULL-key bucket
    ).toDF("doc_id", "bk")
    def naive(f: org.apache.spark.sql.DataFrame) =
      f.as("a").join(f.as("b"),
          col("a.bk") <=> col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = naive(frame)
    // hot 120C2 + cold (i%7 over 1..30: two 5-row keys of 10 pairs +
    // five 4-row keys of 6) + NULL 3C2 — spelled out: 7140 +
    // (2*10 + 5*6) + 3
    assert(want.size == 7140 + 50 + 3,
      s"planted corpus wrong: ${want.size}")
    // default policy: refusal names the hot bucket
    val ex = intercept[Exception] {
      Text.selfJoinPairs(frame, "bk", "doc_id", 50).count()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("hot bucket"), s"unexpected refusal: $msg")
    // salted policy: identical pair set, for several salt counts
    for (salts <- Seq(1, 3, 8)) {
      val got = Text.selfJoinPairs(frame, "bk", "doc_id", 50, salts)
        .select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"salts=$salts: extra=${(got -- want).take(5)} " +
          s"missing=${(want -- got).take(5)}")
    }
    // and with no hot bucket the two policies agree too
    val cold = frame.filter($"bk" =!= "hot" || $"bk".isNull)
    assert(Text.selfJoinPairs(cold, "bk", "doc_id", 50, 4)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == naive(cold))
  }

  test("selfJoinPairs: payload columns ride both hot-bucket policies") {
    val s = spark
    import s.implicits._
    val frame = (1L to 40L).map(i => (i, if (i <= 30) "hot" else s"c${i % 3}", i * 10))
      .toDF("doc_id", "bk", "w")
    def pairs(cap: Int, salts: Int) =
      Text.selfJoinPairs(frame, "bk", "doc_id", cap, salts, payload = Seq("w"))
        .select($"a_id", $"b_id", $"a_w", $"b_w").as[(Long, Long, Long, Long)]
        .collect().toSet
    val plain = pairs(100, 0)
    assert(plain.size == 30 * 29 / 2 + 6 + 3 + 3)
    assert(plain.forall { case (a, b, wa, wb) => wa == a * 10 && wb == b * 10 })
    assert(pairs(20, 3) == plain)
  }

  test("pipe_minhash_lsh under spark.graft.lsh.saltHotBuckets stays identical") {
    // the conf-gated escape hatch changes distribution, never output:
    // run the family build on a FRESH fixture copy with salting on and
    // compare to the unguarded reference chain
    val s = spark
    import s.implicits._
    val want = unguardedPairs(0.35)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // fresh dir so the LRU-cached family frames rebuild under the conf
    val dir2 = java.nio.file.Files.createTempDirectory("guarded_salt").toString
    Tables(s, dir, "documents").write.mode("overwrite")
      .parquet(s"$dir2/documents.parquet")
    s.conf.set("spark.graft.lsh.saltHotBuckets", "4")
    try {
      val got = SparkEntry.queries("pipe_minhash_lsh")(spark, dir2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"salted family != unguarded: extra=${(got -- want).take(5)} " +
          s"missing=${(want -- got).take(5)}")
    } finally s.conf.unset("spark.graft.lsh.saltHotBuckets")
  }

  test("pipe_semdedup: planted duplicate structure clusters, medoid kept") {
    // the DuckDB gate proves engine agreement; this proves the SEMANTIC
    // contract on a corpus with known structure: byte-identical copies
    // have cosine 1 and ALWAYS share every band, so the exact-dup
    // groups A (cos 1 to each other) and their near-dup bridge to B
    // (cos ≈ 0.89) merge into one 7-member cluster with the medoid
    // rule picking the smallest id of the LARGER identical group. The
    // cos-0.875 twin pair (5, 6) is NOT asserted: a single 16-bit band
    // catches such a pair with p ≈ 0.84^16 ≈ 6% (×4 bands ≈ 22%) —
    // banded hyperplane LSH's designed recall, the knob the entry's
    // comment documents, not a defect. The empty-shingle dup group
    // (300/301, zero vectors) must be absent — Spark's cosine gives
    // 0/0 = NaN (dropped EXPLICITLY by the !isnan guard) while
    // DuckDB's list_cosine_similarity returns -1.0 (below threshold).
    val got = SparkEntry.queries("pipe_semdedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val byComp = got.map(r => r._1 -> r).toMap
    val ab = byComp.get(100L)
    assert(ab.exists(_._2 == 7L),
      s"groups A+B should merge into one 7-member cluster: $got")
    assert(ab.exists(_._3 == 100L), s"A∪B medoid should be 100: $ab")
    assert(!got.exists(r => r._1 >= 300L && r._1 <= 301L),
      s"empty-shingle zero-vector docs must not cluster: $got")
    for ((comp, n, keep) <- got) {
      assert(n >= 2, s"singleton component $comp reported")
      assert(keep >= comp, "keep id must be a member (component = min id)")
    }
  }

  test("guardBuckets: transparent under the cap, loud refusal above it") {
    val s = spark
    import s.implicits._
    val frame = Seq.tabulate(12)(i => (i.toLong, if (i < 9) "hot" else s"k$i"))
      .toDF("id", "bk")
    // under the cap: pure pass-through, rows identical
    val through = Text.guardBuckets(frame, "bk", 9)
      .select($"id", $"bk").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(through == frame.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // NULL keys are a bucket too: they pass through (a plain equi-join
    // would silently drop them) AND the cap applies to them
    val withNulls = Seq((1L, Some("a")), (2L, None), (3L, None))
      .toDF("id", "bk")
    val np = Text.guardBuckets(withNulls, "bk", 2)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(np == Set(1L, 2L, 3L), s"null-key rows dropped: $np")
    val nex = intercept[Exception] {
      Text.guardBuckets(withNulls, "bk", 1).count()
    }
    val nmsg = Option(nex.getMessage).getOrElse("") +
      Option(nex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(nmsg.contains("hot bucket") && nmsg.contains("NULL"), nmsg)
    // above the cap: the refusal names the bucket and its size —
    // this also proves the raise_error CASE survives optimization
    val ex = intercept[Exception] {
      Text.guardBuckets(frame, "bk", 8).count()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("hot bucket") && msg.contains("hot"),
      s"unexpected refusal: $msg")
  }
}
