package graft.queries

import graft.{Det, QDef, SessionCache, Tables}
import graft.functions.GraftFunctions
import graft.ops.{Graphs, Multimodal, SemDedupParams, Text, Vectors}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** LLM-training-data pipeline operators over `documents` (BASELINE
  * north star): exact + near-duplicate detection, SimHash, text
  * analysis, language ID, fingerprinting, multimodal-column stub.
  *
  * Scale invariants (the 100 TB contract):
  *  - near-dup candidates come from LSH band buckets or blocking keys
  *    (equi-join shuffles), never an all-pairs cross join;
  *  - every per-document feature is a parallel projection;
  *  - all hashes are md5-derived so DuckDB reproduces them exactly.
  */
object PipelineQueries {

  /** Per-bucket cap for the guarded band self-join (Text.guardBuckets).
    * After exact-dedup composition a band bucket only grows past this
    * through pathological near-identical (but not byte-identical)
    * boilerplate — at 10k rows a single bucket is 5·10⁷ candidate
    * pairs in ONE task, which is a refusal, not a query.
    */
  private[graft] val LshBucketCap = 10000

  /** Exact-duplicate groups (doc_id, rep_id), rep = min doc_id per
    * identical text — the r16-verdict "exact dedup FIRST" composition:
    * every downstream LSH stage runs on representatives only, so a
    * million identical boilerplate documents cost ONE row in the band
    * join instead of a quadratic hot bucket. One shuffle (window-min
    * over md5(text)); cached like the other family frames.
    */
  private def lshGroups(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    SessionCache(s).getOrBuild("lshGroups", dir) {
      import s.implicits._
      Tables(s, dir, "documents")
        .select($"doc_id", md5($"text").as("__th"))
        .withColumn("rep_id",
          min($"doc_id").over(Window.partitionBy($"__th")))
        .select($"doc_id", $"rep_id")
        .persist(StorageLevel.DISK_ONLY)
    }

  /** Hashed-docs frame (doc_id, sh, sig) — REPRESENTATIVES ONLY since
    * r17 (doc_id ∈ rep ids of [[lshGroups]]): identical texts are
    * shingled and min-hashed once. Shared by the whole near-dup family:
    * one md5 pass + one DISK_ONLY materialization per (session,
    * fixture dir), held like every family frame in the session's
    * [[graft.SessionCache]]: over many fixture directories the
    * DISK_ONLY persists age out of its LRU instead of accumulating.
    */
  private def lshDocs(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    SessionCache(s).getOrBuild("lshDocs", dir) {
      import s.implicits._
      val reps = lshGroups(s, dir)
        .filter($"doc_id" === $"rep_id").select($"doc_id")
      Tables(s, dir, "documents").join(reps, "doc_id")
        .withColumn("toks", Text.tokens($"text"))
        .withColumn("hp",
          Text.hashPairs(array_distinct(Text.shingles($"toks", 3))))
        .withColumn("sh", array_distinct(transform($"hp", p => p.getField("h1"))))
        .withColumn("sig", Text.minhashSigFromPairs($"hp", 16))
        .select($"doc_id", $"sh", $"sig")
        .persist(StorageLevel.DISK_ONLY)
    }

  /** Confirmed near-dup pairs BETWEEN REPRESENTATIVES (banded LSH
    * candidates + exact-Jaccard filter, carrying `jac` so threshold
    * consumers can refilter) — the edge list the CC entries cluster.
    * The band self-join is hot-bucket GUARDED (Text.guardBuckets at
    * [[LshBucketCap]]): with exact duplicates already collapsed by
    * [[lshGroups]], a bucket that still exceeds the cap is a refusal.
    * One definition so the propagation and star-contraction gate
    * entries provably run the same graph. Cached DISK_ONLY like
    * [[lshDocs]] — one band-join + Jaccard materialization for the
    * whole family, aged out of the same session LRU.
    */
  private def lshPairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // hot-bucket POLICY (r17 verdict task 3): default 0 = the loud
    // refusal contract (guardBuckets inside selfJoinPairs); a user
    // who wants the answer anyway sets
    // spark.graft.lsh.saltHotBuckets=s and the >cap buckets run
    // triangle-salted across s(s+1)/2 tasks with an identical pair
    // set (GuardedLshSpec proves both against the naive join).
    // The salt mode is PART OF THE CACHE KEY (r18 ADVICE): changing
    // the conf mid-session takes effect on the next call instead of
    // silently serving a frame built under the old policy. The pair
    // SET is policy-independent, so a stale entry was never a wrong
    // answer — only a wrong execution shape.
    val saltMode = s.conf.getOption("spark.graft.lsh.saltHotBuckets")
      .map(_.toInt).getOrElse(0)
    SessionCache(s).getOrBuild("lshPairs", (dir, saltMode)) {
      import s.implicits._
      val docs = lshDocs(s, dir)
      val bands =
        docs.select($"doc_id", explode(Text.bandKeys($"sig", 8, 2)).as("bk"))
      val shs = docs.select($"doc_id", $"sh")
      Text.selfJoinPairs(bands, "bk", "doc_id", LshBucketCap, saltMode)
        .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
        .distinct()
        .join(shs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
        .join(shs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
        .withColumn("jac", Text.jaccard($"sh_a", $"sh_b"))
        .filter($"jac" >= 0.35)
        .select($"doc_a", $"doc_b", $"jac")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }
  }

  /** Duplicate-group members with their group's self-Jaccard
    * (rep_id, doc_id, jrep), guarded at [[LshBucketCap]] — the
    * expansion frame pipe_minhash_lsh self-joins for intra-group
    * pairs. Cached DISK_ONLY like the other family frames, so the
    * queries that reuse it do not re-run the group/Jaccard subtree.
    */
  private def lshMembers(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    SessionCache(s).getOrBuild("lshMembers", dir) {
      import s.implicits._
      Text.guardBuckets(
        lshGroups(s, dir)
          .join(lshDocs(s, dir).select($"doc_id".as("rep_id"), $"sh"),
            "rep_id")
          .withColumn("jrep", Text.jaccard($"sh", $"sh"))
          .filter($"jrep" >= 0.35) // drops empty-shingle groups (NULL)
          .select($"rep_id", $"doc_id", $"jrep"),
        "rep_id", LshBucketCap)
        .persist(StorageLevel.DISK_ONLY)
    }

  /** Near-dup GRAPH edges for the CC entries: rep-level confirmed
    * pairs + one star edge rep→member per exact-duplicate member.
    * Connectivity is provably identical to the full quadratic pair
    * graph — within an m-duplicate group every member reaches the
    * representative in one hop (m−1 edges instead of m(m−1)/2), and a
    * cross-group member pair exists in the quadratic graph iff the
    * rep pair does (identical texts ⇒ identical shingle sets ⇒
    * identical band keys and Jaccard). Groups whose shingle set is
    * empty get NO star edges: their intra-group Jaccard is NULL (0/0)
    * in both engines, so the unguarded graph never contained them.
    */
  private def lshEdges(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    // persisted like the other family frames — connected components
    // ITERATES over this frame (one reference per round), so an
    // unpersisted union+join here re-executes every round (measured
    // r17: the three CC entries 1.2–1.7 s → 2.9–4.5 s before this
    // cache; back after)
    SessionCache(s).getOrBuild("lshEdges", dir) {
      import s.implicits._
      val pairs = lshPairs(s, dir).select($"doc_a", $"doc_b")
      val star = lshGroups(s, dir).filter($"doc_id" =!= $"rep_id")
        .join(lshDocs(s, dir).select($"doc_id".as("rep_id"), $"sh"), "rep_id")
        .filter(size($"sh") > 0)
        .select($"rep_id".as("doc_a"), $"doc_id".as("doc_b"))
      pairs.unionByName(star)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  /** Feature-hash "embedding" frame for the semantic-dedup entry
    * (doc_id, v float[64], dots double[64]): signed md5 feature hash
    * of the document's DISTINCT 3-shingles, plus the 64 hyperplane
    * dot products ([[graft.ops.Vectors.planeMatrix]] ±1 planes).
    * Components are small INTEGERS, so dots/norms are exact in both
    * engines. Cached DISK_ONLY like the other family frames.
    */
  private def semVecs(s: org.apache.spark.sql.SparkSession, dir: String,
                      p: SemDedupParams = SemDedupParams())
      : org.apache.spark.sql.DataFrame =
    // keyed by the embed-stage parameters only (band grouping happens
    // downstream): two band geometries over the same (dims, planes)
    // share one persisted embedding frame
    SessionCache(s).getOrBuild("semVecs", (dir, p.shingleN, p.dims, p.nPlanes)) {
      graft.ops.SemDedup
        .featureVecs(Tables(s, dir, "documents"), "doc_id", "text", p)
        .persist(StorageLevel.DISK_ONLY)
    }

  /** Confirmed semantic near-dup pairs (doc_a, doc_b, sim): banded
    * hyperplane-LSH candidates (4 bands × 16 bits over [[semVecs]]'
    * plane dots, [[graft.ops.Text.selfJoinPairs]] under the family
    * cap) confirmed at rounded cosine ≥ 0.6 — near-dups measure ~0.98,
    * unrelated ~0. Persisted: the CC stage iterates over this frame.
    */
  private def semPairs(s: org.apache.spark.sql.SparkSession, dir: String,
                       p: SemDedupParams = SemDedupParams())
      : org.apache.spark.sql.DataFrame =
    SessionCache(s).getOrBuild("semPairs", (dir, p)) {
      import s.implicits._
      graft.ops.SemDedup.pairsFromVecs(semVecs(s, dir, p), "doc_id", p)
        .select($"a_id".as("doc_a"), $"b_id".as("doc_b"), $"sim")
        .persist(StorageLevel.DISK_ONLY)
    }

  /** DuckDB oracle for the dedup-cluster entries: the full
    * minhash→bands→jaccard→CC chain re-derived in SQL. Shared by the
    * propagation AND star-contraction entries — connected components
    * with min-id labels are algorithm-independent, so one oracle
    * checks both implementations.
    */
  private val componentsOracle = """
      WITH RECURSIVE d AS (
        SELECT doc_id, list_distinct(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      hp AS (
        SELECT doc_id, list_transform(sh, x -> struct_pack(
                 h1 := CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
                       % 36028797018963968,
                 h2 := CAST('0x' || substring(md5(x), 16, 15) AS BIGINT)
                       % 36028797018963968)) AS hp
        FROM d),
      hs AS (
        SELECT doc_id,
               list_distinct(list_transform(hp, p -> p.h1)) AS sh,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(hp, p -> (p.h1 + s * p.h2) % 36028797018963968))) AS sig
        FROM hp),
      bands AS (
        SELECT doc_id, unnest(list_transform(range(0, 8), i ->
                 i || ':' || array_to_string(sig[i*2+1:i*2+2], ','))) AS bk
        FROM hs),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT doc_a, doc_b
        FROM cand JOIN hs x ON cand.doc_a = x.doc_id
                  JOIN hs y ON cand.doc_b = y.doc_id
        WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
              len(list_distinct(list_concat(x.sh, y.sh))) >= 0.35),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(id, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT cluster_id, count(*) AS n_docs,
             string_agg(id, ',' ORDER BY id) AS members
      FROM comp GROUP BY cluster_id ORDER BY cluster_id"""

  val textDefs: Seq[QDef] = Seq(

    // Exact dedup (hash-groupBy): corpus-level duplicate accounting.
    QDef("pipe_dedup_exact", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("u_text"),
        countDistinct(md5(lower($"text"))).as("u_norm"))
    }, Some("""
      SELECT count(*) AS n_docs,
             count(DISTINCT md5(text)) AS u_text,
             count(DISTINCT md5(lower(text))) AS u_norm
      FROM documents""")),

    // Semantic dedup (SemDeDup shape, r18): embed → bucket → cluster →
    // keep one per cluster. The "embedding" is a 64-dim signed
    // feature-hash of the document's DISTINCT 3-shingles (md5 idx +
    // md5 sign — integer-valued components, so every dot product and
    // norm² is EXACT in both engines and only the final cosine
    // division/sqrt needs the round-to-6 guard). Candidates come from
    // banded hyperplane LSH (64 md5-seeded ±1 planes = 4 bands × 16
    // bits — 2^16 buckets per band keeps unrelated collisions ~n²/65k
    // while a cos≈0.98 near-dup pair agrees on a 16-bit band with
    // p≈0.87^16·4-band recall; banding is the recall knob, same as the
    // minhash family). Confirmed pairs (cos ≥ 0.6 — near-dups sit at
    // ~0.98, unrelated at ~0, both measured) cluster via connected
    // components, and each cluster keeps its MEDOID: the member with
    // the largest DECIMAL-exact sum of incident confirmed cosines
    // (ties → smallest id). Every stage is md5-deterministic, so the
    // DuckDB oracle re-derives the whole chain from scratch.
    QDef("pipe_semdedup", (s, dir) => {
      import s.implicits._
      graft.ops.SemDedup.clusters(semPairs(s, dir)
        .select($"doc_a".as("a_id"), $"doc_b".as("b_id"), $"sim"))
    }, Some(graft.ops.SemDedup.oracleSql("documents", "doc_id", "text"))),

    // The same operator at a DIFFERENT band geometry (2 × 24-bit bands,
    // 48 planes) — the r19 parameterization proof: `bitsPerBand` is THE
    // 100-TB scale knob (spurious band collisions ~ n²/2^bits,
    // STRESS.md), and this entry walks the whole parameterized chain —
    // Spark operator AND generated DuckDB oracle — through the gate at
    // non-default parameters. Fewer/wider bands trade recall (2 bands
    // at ~0.987²⁴ per-band agreement for a cos≈0.98 twin) for a 256×
    // smaller collision term, the documented production trade.
    QDef("pipe_semdedup_b24", (s, dir) => {
      import s.implicits._
      val p = SemDedupParams(bands = 2, bitsPerBand = 24)
      graft.ops.SemDedup.clusters(semPairs(s, dir, p)
        .select($"doc_a".as("a_id"), $"doc_b".as("b_id"), $"sim"))
    }, Some(graft.ops.SemDedup.oracleSql("documents", "doc_id", "text",
      SemDedupParams(bands = 2, bitsPerBand = 24)))),

    // MinHash + LSH near-duplicate pairs — THE bucketed near-dup
    // pipeline: 3-word shingles → 16 min-hashes → 8 bands × 2 →
    // band-bucket self-join → exact Jaccard on candidates only.
    // Identical md5-based hashes on the DuckDB side make even the
    // LSH candidate set oracle-checkable.
    QDef("pipe_minhash_lsh", (s, dir) => {
      import s.implicits._
      // GUARDED production shape (r17): exact-dedup first (lshGroups),
      // the band self-join + exact Jaccard over REPRESENTATIVES only
      // (lshPairs, hot-bucket capped), then the rep-level pairs are
      // expanded back to member pairs. The expansion is two equi-joins
      // on rep_id — its output is quadratic in duplicate-group size
      // ONLY because the pair list itself is (that's this query's
      // contract; the scale path is the CC entries, which use linear
      // star edges instead). Result is bit-identical to the unguarded
      // chain the DuckDB oracle still runs: identical texts have
      // identical shingle sets, so member pairs inherit the rep pair's
      // band-candidacy and Jaccard, and intra-group pairs have
      // Jaccard 1 (or NULL→dropped for empty shingle sets).
      val groups = lshGroups(s, dir)
      val cross = lshPairs(s, dir)
        .join(groups.select($"rep_id".as("doc_a"), $"doc_id".as("ma")), "doc_a")
        .join(groups.select($"rep_id".as("doc_b"), $"doc_id".as("mb")), "doc_b")
        .select(least($"ma", $"mb").as("doc_a"),
          greatest($"ma", $"mb").as("doc_b"), $"jac")
      val members = lshMembers(s, dir)
      val intra = members.as("x").join(members.as("y"),
          col("x.rep_id") === col("y.rep_id") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.jrep").as("jac"))
      cross.unionByName(intra)
        .select($"doc_a", $"doc_b", round($"jac", 4).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
    }, Some("""
      WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      hp AS (
        SELECT doc_id, list_transform(sh, x -> struct_pack(
                 h1 := CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
                       % 36028797018963968,
                 h2 := CAST('0x' || substring(md5(x), 16, 15) AS BIGINT)
                       % 36028797018963968)) AS hp
        FROM d),
      hs AS (
        SELECT doc_id,
               list_distinct(list_transform(hp, p -> p.h1)) AS sh,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(hp, p -> (p.h1 + s * p.h2) % 36028797018963968))) AS sig
        FROM hp),
      bands AS (
        SELECT doc_id, unnest(list_transform(range(0, 8), i ->
                 i || ':' || array_to_string(sig[i*2+1:i*2+2], ','))) AS bk
        FROM hs),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
             round(len(list_intersect(x.sh, y.sh))::DOUBLE /
                   len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
      FROM cand JOIN hs x ON cand.doc_a = x.doc_id
                JOIN hs y ON cand.doc_b = y.doc_id
      WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
            len(list_distinct(list_concat(x.sh, y.sh))) >= 0.35
      ORDER BY doc_a, doc_b""")),

    // Near-dup CLUSTERS: the guarded near-dup graph (lshEdges:
    // rep-level LSH pairs + linear star edges for exact duplicates)
    // fed through distributed connected components (ops/Graphs
    // min-label propagation) — the step that lets a curation job keep
    // ONE representative per duplicate cluster instead of
    // over-deleting along transitive chains a~b~c. Rounds scale with
    // cluster diameter (tiny for near-dup graphs), each round is one
    // equi-join shuffle; the DuckDB oracle re-derives the same
    // components from the UNGUARDED quadratic pair graph with a
    // recursive CTE — the gate proves the two graphs connect
    // identically.
    QDef("pipe_dedup_components", (s, dir) => {
      import s.implicits._
      Graphs.connectedComponents(lshEdges(s, dir), "doc_a", "doc_b")
        .groupBy($"component".as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          concat_ws(",", transform(sort_array(collect_list($"id")),
            _.cast("string"))).as("members"))
        .orderBy($"cluster_id")
    }, Some(componentsOracle)),

    // The SAME dedup-cluster computation through the r16
    // star-contraction algorithm (Graphs.connectedComponentsStar —
    // large-star/small-star, O(log² n) rounds regardless of diameter,
    // the upgrade for adversarial long-chain graphs; STRESS cc_chain
    // rungs quantify it). Shares the edge list AND the oracle with
    // pipe_dedup_components: min-id component labels are
    // algorithm-independent, so the hash gate proves both
    // implementations agree with DuckDB's recursive-CTE reachability —
    // and therefore with each other — every round.
    QDef("pipe_dedup_components_star", (s, dir) => {
      import s.implicits._
      Graphs.connectedComponentsStar(lshEdges(s, dir), "doc_a", "doc_b")
        .groupBy($"component".as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          concat_ws(",", transform(sort_array(collect_list($"id")),
            _.cast("string"))).as("members"))
        .orderBy($"cluster_id")
    }, Some(componentsOracle)),

    // Canonical-document selection — the decision stage that makes
    // near-dup clustering actionable: per cluster keep the longest
    // document (ties broken to the smallest doc_id via a single
    // numeric score, because DuckDB's arg_max can't order by struct),
    // report what gets dropped. Same banded-LSH candidate generation
    // and min-label CC as pipe_dedup_components; the extra work is
    // one broadcast-size join against (doc_id, n_chars) and a
    // per-cluster arg-max — all shuffle-on-key, no new scale hazards.
    QDef("pipe_dedup_canonical", (s, dir) => {
      import s.implicits._
      val meta = Tables(s, dir, "documents").select($"doc_id", $"n_chars")
      Graphs.connectedComponents(lshEdges(s, dir), "doc_a", "doc_b")
        .join(meta, $"id" === $"doc_id")
        .withColumn("score", $"n_chars" * lit(100000000L) - $"doc_id")
        .groupBy($"component".as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          max_by($"doc_id", $"score").as("kept_doc"),
          (count(lit(1)) - lit(1)).as("dropped_docs"),
          max($"n_chars").as("kept_chars"))
        .orderBy($"cluster_id")
    }, Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, list_distinct(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      hp AS (
        SELECT doc_id, list_transform(sh, x -> struct_pack(
                 h1 := CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
                       % 36028797018963968,
                 h2 := CAST('0x' || substring(md5(x), 16, 15) AS BIGINT)
                       % 36028797018963968)) AS hp
        FROM d),
      hs AS (
        SELECT doc_id,
               list_distinct(list_transform(hp, p -> p.h1)) AS sh,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(hp, p -> (p.h1 + s * p.h2) % 36028797018963968))) AS sig
        FROM hp),
      bands AS (
        SELECT doc_id, unnest(list_transform(range(0, 8), i ->
                 i || ':' || array_to_string(sig[i*2+1:i*2+2], ','))) AS bk
        FROM hs),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT doc_a, doc_b
        FROM cand JOIN hs x ON cand.doc_a = x.doc_id
                  JOIN hs y ON cand.doc_b = y.doc_id
        WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
              len(list_distinct(list_concat(x.sh, y.sh))) >= 0.35),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(id, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT cluster_id, count(*) AS n_docs,
             arg_max(c.id, d.n_chars * 100000000 - d.doc_id) AS kept_doc,
             count(*) - 1 AS dropped_docs,
             max(d.n_chars) AS kept_chars
      FROM comp c JOIN documents d ON c.id = d.doc_id
      GROUP BY cluster_id ORDER BY cluster_id""")),

    // Blocked n-gram Jaccard near-dup (compose-existing-ops baseline):
    // candidates share (lang, first token) — a cheap blocking key —
    // then exact bigram-shingle Jaccard.
    QDef("pipe_ngram_jaccard", (s, dir) => {
      import s.implicits._
      // Blocking key = (lang, first two tokens, length bucket): tight
      // enough that block sizes stay O(1) as the corpus grows — the
      // within-block pair count is what must not go quadratic. Since
      // r17 the self-join is hot-block GUARDED like the LSH band join:
      // a boilerplate-heavy corpus degenerates this key the same way.
      // Persisted DISK_ONLY before the guard; the guard is a window
      // count, so one exchange below it feeds both join sides.
      // r20: compare 55-bit shingle HASHES (Text.hash55, the family's
      // cross-engine md5 convention — pipe_minhash_lsh's jaccard
      // already runs over h1 hashes) instead of raw 2-gram strings:
      // the persisted frame and the block-join shuffle carry 8-byte
      // longs per shingle instead of ~15-byte strings, and the
      // candidate Jaccard intersects long arrays (guide §2.3 "narrower
      // types"). The pair set and every jaccard value are unchanged
      // (identical shingles ⇒ identical hashes; distinct 60-bit-class
      // collisions ~2⁻⁶⁰ — the same term every minhash entry carries),
      // and the DuckDB oracle applies the identical md5 hash.
      val keyed = Tables(s, dir, "documents")
        .withColumn("toks", Text.tokens($"text"))
        .withColumn("sh", Text.hash55(array_distinct(Text.shingles($"toks", 2))))
        .withColumn("blk", concat_ws("|", $"lang",
          element_at($"toks", 1), element_at($"toks", 2),
          expr("size(toks) div 20")))
        .select($"doc_id", $"blk", $"sh")
        .persist(StorageLevel.DISK_ONLY)
      val docs = Text.guardBuckets(keyed, "blk", LshBucketCap)
      docs.as("a").join(docs.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .withColumn("jac", Text.jaccard(col("a.sh"), col("b.sh")))
        .filter($"jac" >= 0.25)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          round($"jac", 4).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
    }, Some("""
      WITH d AS (
        SELECT doc_id,
               lang || '|' || toks[1] || '|' || toks[2] || '|'
                    || CAST(len(toks) // 20 AS BIGINT) AS blk,
               list_transform(
                 list_distinct(list_transform(
                   range(1, greatest(len(toks), 1)),
                   i -> array_to_string(toks[i:i+1], ' '))),
                 x -> CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
                      % 36028797018963968) AS sh
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                   len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.25
      ORDER BY doc_a, doc_b""")),

    // Stratified sampling — rebalancing a training corpus by
    // downsampling overrepresented strata (per-language rates here).
    // The keep decision is a deterministic per-row hash threshold
    // (mh60 of doc_id, salted per stratum), so the SAME rows are kept
    // at any executor count / retry — no rand(), fully oracle-able,
    // and a pure projection + agg at any scale.
    // Domain-mixture resampling — the Pile/Dolma-style "hit a target
    // mixture" op: each source domain gets a weight, the total budget
    // splits proportionally, and each domain keeps EXACTLY its quota
    // as the k hash-smallest docs (md5-order, the repo's cross-engine
    // convention) — deterministic at any executor count, no rand().
    // At 100 TB this is one window per domain partition (domains are
    // the partition key, never a global sort).
    QDef("pipe_domain_mixture", (s, dir) => {
      import s.implicits._
      val budget = 200
      val w = when($"source".isin("src0", "src1", "src2"), 3.0).otherwise(1.0)
      val totW = 3 * 3.0 + 17 * 1.0 // 20 sources in the fixture
      val quota = floor(lit(budget) * w / totW).cast("long")
      val ranked = Tables(s, dir, "documents")
        .withColumn("q", quota)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"source")
            .orderBy(Text.mh60(lit("mix"), $"doc_id".cast("string")),
              $"doc_id")))
      ranked.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"rn" <= $"q", 1L).otherwise(0L)).as("n_kept"),
          max($"q").as("quota"))
        .orderBy($"source")
    }, Some("""
      WITH d AS (
        SELECT source, doc_id,
               CAST('0x' || substring(md5('mix' || '|' ||
                 CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
               CAST(floor(200 * CASE WHEN source IN ('src0', 'src1', 'src2')
                                     THEN 3.0 ELSE 1.0 END / 26.0) AS BIGINT)
                 AS q
        FROM documents),
      r AS (SELECT source, q,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY h, doc_id) AS rn
            FROM d)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN rn <= q THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             max(q) AS quota
      FROM r GROUP BY source ORDER BY source""")),

    // Intra-document repetition removal (FineWeb-style): the text
    // splits into consecutive 10-word chunks, duplicate chunks within
    // a doc drop (keep-first), and the doc is REASSEMBLED in original
    // order — per-source totals prove the rebuild byte-for-byte
    // against DuckDB's string_agg. Everything is per-doc generator +
    // window work: no global state, linear at corpus scale.
    QDef("pipe_intradoc_dedup", (s, dir) => {
      import s.implicits._
      val chunks = Tables(s, dir, "documents")
        .withColumn("words", split($"text", " "))
        .withColumn("ch", expr(
          """transform(sequence(0, CAST(ceil(size(words) / 10.0) AS INT) - 1),
               i -> array_join(slice(words, i * 10 + 1, 10), ' '))"""))
        .select($"doc_id", $"source", posexplode($"ch").as(Seq("pos", "chunk")))
        // ONE exchange (r20): hash-partition the exploded chunks by
        // doc_id once; HashPartitioning(doc_id) satisfies both the
        // (doc, source, chunk) dedup agg and the (doc, source) rebuild
        // agg (guide §2.4 — same-keyed operations share one exchange).
        .repartition($"doc_id")
      val kept = chunks.groupBy($"doc_id", $"source", $"chunk")
        .agg(min($"pos").as("first_pos"), count(lit(1)).as("occ"))
      val rebuilt = kept.groupBy($"doc_id", $"source")
        .agg(count(lit(1)).as("n_unique"),
          sum($"occ").as("n_chunks"),
          length(array_join(transform(
            array_sort(collect_list(struct($"first_pos", $"chunk"))),
            c => c.getField("chunk")), " ")).as("new_chars"))
      rebuilt.groupBy($"source")
        .agg(count(lit(1)).as("docs"),
          sum($"n_chunks").as("chunks"),
          sum($"n_unique").as("uniq"),
          sum($"new_chars").as("new_chars"))
        .orderBy($"source")
    }, Some("""
      WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
                 FROM documents),
      ch AS (SELECT doc_id, source, i.i AS pos,
                    array_to_string(words[i.i * 10 + 1 : i.i * 10 + 10], ' ')
                      AS chunk
             FROM w, (SELECT unnest(range(200)) AS i) i
             WHERE i.i < ceil(len(words) / 10.0)),
      kept AS (SELECT doc_id, source, chunk, min(pos) AS first_pos,
                      count(*) AS occ
               FROM ch GROUP BY 1, 2, 3),
      rebuilt AS (SELECT doc_id, source, count(*) AS n_unique,
                         CAST(sum(occ) AS BIGINT) AS n_chunks,
                         length(string_agg(chunk, ' ' ORDER BY first_pos))
                           AS new_chars
                  FROM kept GROUP BY 1, 2)
      SELECT source, count(*) AS docs,
             CAST(sum(n_chunks) AS BIGINT) AS chunks,
             CAST(sum(n_unique) AS BIGINT) AS uniq,
             CAST(sum(new_chars) AS BIGINT) AS new_chars
      FROM rebuilt GROUP BY source ORDER BY source""")),

    // Exact substring-level dedup (Lee et al. 2021 ExactSubstr,
    // re-expressed shuffle-first in Text.duplicateSpans): maximal
    // ≥15-token spans whose seeds repeat corpus-wide, summarized per
    // source. The oracle re-derives the ENTIRE chain — positional
    // seed emit, global occurrence filter, per-doc interval merge —
    // so the span boundaries themselves are hash-checked, not just
    // counts of them.
    QDef("pipe_substring_dedup", (s, dir) => {
      import s.implicits._
      val spans = Text.duplicateSpans(
        Tables(s, dir, "documents"), "doc_id", "text", k = 15)
      val perDoc = spans.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"), sum($"span_toks").as("dup_toks"),
          max($"span_toks").as("max_span"))
      val docs = Tables(s, dir, "documents").select($"doc_id", $"source",
        size(Text.tokens($"text")).cast("long").as("toks"))
      perDoc.join(docs, "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("dup_docs"),
          sum($"n_spans").as("n_spans"),
          sum($"dup_toks").as("dup_toks"),
          max($"max_span").as("max_span"),
          round(sum($"dup_toks").cast("double") / sum($"toks"), 4)
            .as("dup_frac"))
        .orderBy($"source")
    }, Some("""
      WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                 FROM documents),
      se AS (SELECT doc_id,
                    unnest(range(0, greatest(len(toks) - 14, 0))) AS pos,
                    toks
             FROM t),
      h AS (SELECT doc_id, pos,
                   CAST('0x' || substring(md5('xspan' || '|' ||
                        array_to_string(toks[pos + 1 : pos + 15], ' ')),
                        1, 15) AS BIGINT) AS h
            FROM se),
      dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
      d AS (SELECT doc_id, pos FROM h JOIN dup USING (h)),
      m AS (SELECT doc_id, pos,
                   max(pos + 14) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_end
            FROM d),
      g AS (SELECT doc_id, pos,
                   sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS span_id
            FROM m),
      sp AS (SELECT doc_id, span_id, min(pos) AS s0, max(pos) + 14 AS e0
             FROM g GROUP BY 1, 2),
      pd AS (SELECT doc_id, count(*) AS n_spans,
                    sum(e0 - s0 + 1) AS dup_toks,
                    max(e0 - s0 + 1) AS max_span
             FROM sp GROUP BY doc_id),
      dl AS (SELECT doc_id, source, len(toks) AS toks FROM t)
      SELECT source, count(*) AS dup_docs,
             CAST(sum(n_spans) AS BIGINT) AS n_spans,
             CAST(sum(dup_toks) AS BIGINT) AS dup_toks,
             CAST(max(max_span) AS BIGINT) AS max_span,
             round(CAST(sum(dup_toks) AS DOUBLE) /
                   CAST(sum(toks) AS DOUBLE), 4) AS dup_frac
      FROM pd JOIN dl USING (doc_id)
      GROUP BY source ORDER BY source""")),

    // The APPLY side of substring dedup: Text.cutSpans rebuilds each
    // document with its duplicated spans removed (cut-all policy —
    // keep-first is the caller filtering the spans frame). The
    // bit_xor(mh60) checksum over the REBUILT text makes the oracle
    // sensitive to every byte of every rebuilt document, not just
    // counts; `txt = ''` guards the 1-token artifact of splitting an
    // empty string in both engines.
    QDef("pipe_substring_cut", (s, dir) => {
      import s.implicits._
      val docs0 = Tables(s, dir, "documents")
      val spans = Text.duplicateSpans(docs0, "doc_id", "text", k = 15)
      val cut = Text.cutSpans(docs0, spans, "doc_id", "text")
      cut.select($"source",
          size(Text.tokens($"text")).cast("long").as("old"),
          when($"text_dedup" === "", 0L)
            .otherwise(size(Text.tokens($"text_dedup")).cast("long")).as("nw"),
          Text.mh60(lit("cut"), $"text_dedup").as("h"))
        .groupBy($"source")
        .agg(count(lit(1)).as("docs"),
          sum(when($"nw" < $"old", 1L).otherwise(0L)).as("cut_docs"),
          sum($"old").as("old_toks"),
          sum($"nw").as("new_toks"),
          expr("bit_xor(h)").as("checksum"))
        .orderBy($"source")
    }, Some("""
      WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                 FROM documents),
      se AS (SELECT doc_id,
                    unnest(range(0, greatest(len(toks) - 14, 0))) AS pos,
                    toks
             FROM t),
      h AS (SELECT doc_id, pos,
                   CAST('0x' || substring(md5('xspan' || '|' ||
                        array_to_string(toks[pos + 1 : pos + 15], ' ')),
                        1, 15) AS BIGINT) AS h
            FROM se),
      dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
      d AS (SELECT doc_id, pos FROM h JOIN dup USING (h)),
      m AS (SELECT doc_id, pos,
                   max(pos + 14) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_end
            FROM d),
      g AS (SELECT doc_id, pos,
                   sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS span_id
            FROM m),
      sp AS (SELECT doc_id, span_id, min(pos) AS s0, max(pos) + 14 AS e0
             FROM g GROUP BY 1, 2),
      cs AS (SELECT doc_id, flatten(list(range(s0, e0 + 1))) AS cov
             FROM sp GROUP BY doc_id),
      -- coalesce: DuckDB array_to_string([]) is NULL where Spark's
      -- array_join([]) is '' — a fully-covered doc must rebuild to ''
      reb AS (SELECT t.doc_id, t.source, len(t.toks) AS old,
                     coalesce(array_to_string(list_transform(
                       list_filter(range(0, len(t.toks)),
                         p -> cs.cov IS NULL OR NOT list_contains(cs.cov, p)),
                       p -> t.toks[p + 1]), ' '), '') AS txt
              FROM t LEFT JOIN cs USING (doc_id)),
      n AS (SELECT source, old,
                   CASE WHEN txt = '' THEN 0
                        ELSE len(string_split(txt, ' ')) END AS nw,
                   CAST('0x' || substring(md5('cut' || '|' || txt), 1, 15)
                        AS BIGINT) AS h
            FROM reb)
      SELECT source, count(*) AS docs,
             CAST(sum(CASE WHEN nw < old THEN 1 ELSE 0 END) AS BIGINT)
               AS cut_docs,
             CAST(sum(old) AS BIGINT) AS old_toks,
             CAST(sum(nw) AS BIGINT) AS new_toks,
             bit_xor(h) AS checksum
      FROM n GROUP BY source ORDER BY source""")),

    QDef("pipe_stratified_sample", (s, dir) => {
      import s.implicits._
      val M = 36028797018963968L // 2^55: below it mh60 is uniform
      val rate = when($"lang" === "en", 0.1)
        .when($"lang" === "de", 0.25).otherwise(0.5)
      Tables(s, dir, "documents")
        .withColumn("keep",
          (Text.mh60(lit("strat"), $"doc_id".cast("string")) % M)
            < (rate * M).cast("long"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          round(Det.davg(when($"keep", 1.0).otherwise(0.0)), 4).as("kept_frac"))
        .orderBy($"lang")
    }, Some(s"""
      WITH d AS (
        SELECT lang,
               CAST('0x' || substring(md5('strat' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 36028797018963968 AS h,
               CASE WHEN lang = 'en' THEN 0.1
                    WHEN lang = 'de' THEN 0.25 ELSE 0.5 END AS rate
        FROM documents),
      k AS (SELECT lang, CASE WHEN h < CAST(rate * 36028797018963968 AS BIGINT)
                              THEN 1 ELSE 0 END AS keep FROM d)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(keep) AS BIGINT) AS n_kept,
             round(${Det.sqlAvg("CASE WHEN keep = 1 THEN 1.0 ELSE 0.0 END")}, 4)
               AS kept_frac
      FROM k GROUP BY lang ORDER BY lang""")),

    // Sequence packing — the GPT-style concatenate-and-chunk layout:
    // docs are sharded (hash mod 16), ordered within their shard, laid
    // end-to-end by token offset, and cut into fixed 512-token bins
    // (bin = offset div budget — a doc straddles at most one
    // boundary). The window is PARTITIONED BY shard (never global):
    // per-shard row counts are set by the sharding scheme, not the
    // corpus, and shards scale out with executors.
    QDef("pipe_seq_pack", (s, dir) => {
      import s.implicits._
      val byShard = Window.partitionBy($"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "documents")
        .select($"doc_id", ($"doc_id" % 16).as("shard"),
          size(Text.tokens($"text")).cast("long").as("toks"))
        .withColumn("off", coalesce(sum($"toks").over(byShard), lit(0L)))
        .withColumn("bin", expr("off div 512"))
        .groupBy($"shard", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("bin_toks"),
          min($"doc_id").as("first_doc"))
        .orderBy($"shard", $"bin")
    }, Some("""
      WITH d AS (
        SELECT doc_id, doc_id % 16 AS shard,
               len(string_split(text, ' ')) AS toks
        FROM documents),
      o AS (
        SELECT doc_id, shard, toks,
               CAST(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        FROM d)
      SELECT CAST(shard AS BIGINT) AS shard, CAST(off // 512 AS BIGINT) AS bin,
             count(*) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS bin_toks,
             CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM o GROUP BY shard, bin ORDER BY shard, bin""")),

    // Benchmark decontamination — the eval-overlap scrub every
    // training corpus needs: flag training docs sharing any 5-token
    // shingle with the eval set (deterministic stand-in: doc_id%97=0
    // is "the benchmark"). Candidates come from a shingle-hash
    // equi-join (train side exploded once, eval side distinct-small),
    // so the overlap test is a hash join at any corpus size — never
    // an all-pairs text comparison. Same md5 shingle hashes both
    // engines, so even the join is oracle-exact.
    QDef("pipe_decontaminate", (s, dir) => {
      import s.implicits._
      // shingle hashing feeds BOTH join sides — materialize it once
      // (same DISK_ONLY contract as the minhash pipelines above)
      val docs = Tables(s, dir, "documents")
        .withColumn("sh", array_distinct(Text.hash55(array_distinct(
          Text.shingles(Text.tokens($"text"), 5)))))
        .persist(StorageLevel.DISK_ONLY)
      val eval_ = docs.filter($"doc_id" % 97 === 0)
        .select(explode($"sh").as("h")).distinct()
      val train = docs.filter($"doc_id" % 97 =!= 0)
        .select($"doc_id", $"lang", explode($"sh").as("h"))
      val hits = train.join(eval_, "h")
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_shared"))
      hits.groupBy($"lang")
        .agg(count(lit(1)).as("contaminated_docs"),
          sum($"n_shared").as("shared_shingles"),
          max($"n_shared").as("worst_overlap"))
        .orderBy($"lang")
    }, Some("""
      WITH d AS (
        SELECT doc_id, lang, list_distinct(list_transform(
                 list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1)),
                   i -> array_to_string(toks[i:i+4], ' '))),
                 x -> CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
                      % 36028797018963968)) AS sh
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)),
      ev AS (SELECT DISTINCT unnest(sh) AS h FROM d WHERE doc_id % 97 = 0),
      tr AS (SELECT doc_id, lang, unnest(sh) AS h FROM d WHERE doc_id % 97 <> 0),
      hits AS (
        SELECT doc_id, lang, count(*) AS n_shared
        FROM tr JOIN ev USING (h) GROUP BY doc_id, lang)
      SELECT lang, count(*) AS contaminated_docs,
             CAST(sum(n_shared) AS BIGINT) AS shared_shingles,
             CAST(max(n_shared) AS BIGINT) AS worst_overlap
      FROM hits GROUP BY lang ORDER BY lang""")),

    // Gopher-style quality rules (public Rae et al. 2021 heuristics,
    // fixture-scaled thresholds): word count bounds, mean word length
    // band, max-word-length cap, and a repetition proxy (distinct
    // token ratio). Pure per-row projections + one agg — embarrassing
    // parallel at any scale; per-lang keep rates for the curation
    // dashboard.
    // Linear quality CLASSIFIER inference (fasttext-style): handcrafted
    // text features → broadcast literal weights → sigmoid score, one
    // codegen'd scan — the model-scoring shape a curation pipeline
    // runs over every document at 100 TB (weights would arrive as a
    // broadcast join instead of literals; the plan is identical). The
    // score sums go through the DECIMAL lattice, so per-language
    // averages are executor-count independent.
    QDef("pipe_quality_classifier", (s, dir) => {
      import s.implicits._
      val stops = "('the','a','of','and','to','in','is','for','on','that')"
      Tables(s, dir, "documents")
        .withColumn("n", size(split(lower($"text"), " ")).cast("double"))
        .withColumn("sr", expr(
          s"size(filter(split(lower(text), ' '), __t -> __t IN $stops))")
          .cast("double") / $"n")
        .withColumn("mwl", length(regexp_replace($"text", " ", ""))
          .cast("double") / $"n")
        .withColumn("dr",
          size(array_distinct(split(lower($"text"), " "))).cast("double") / $"n")
        .withColumn("dgf",
          (length($"text") - length(regexp_replace($"text", "[0-9]", "")))
            .cast("double") / greatest(length($"text"), lit(1)).cast("double"))
        .withColumn("score", expr(
          """1.0 / (1.0 + exp(-(-0.5 + 3.0 * sr - 1.0 * (mwl - 5.0) / 5.0
                               + 1.5 * dr - 4.0 * dgf)))"""))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"score" >= 0.5, 1L).otherwise(0L)).as("n_keep"),
          round((sum($"score".cast("decimal(22,6)")) / count(lit(1)))
            .cast("double"), 4).as("avg_score"))
        .orderBy($"lang")
    }, Some("""
      WITH f AS (
        SELECT lang,
               len(toks)::DOUBLE AS n,
               len(list_filter(toks, __t -> __t IN
                 ('the','a','of','and','to','in','is','for','on','that')))::DOUBLE
                 / len(toks) AS sr,
               length(replace(text, ' ', ''))::DOUBLE / len(toks) AS mwl,
               len(list_distinct(toks))::DOUBLE / len(toks) AS dr,
               (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                 / greatest(length(text), 1) AS dgf
        FROM (SELECT lang, text,
                     string_split(lower(text), ' ') AS toks FROM documents)),
      sc AS (
        SELECT lang,
               1.0 / (1.0 + exp(-(-0.5 + 3.0 * sr - 1.0 * (mwl - 5.0) / 5.0
                                  + 1.5 * dr - 4.0 * dgf))) AS score
        FROM f)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
             round(CAST(sum(CAST(score AS DECIMAL(22,6))) / count(*) AS DOUBLE),
                   4) AS avg_score
      FROM sc GROUP BY lang ORDER BY lang""")),

    QDef("pipe_gopher_rules", (s, dir) => {
      import s.implicits._
      val toks = Text.tokens($"text")
      val nWords = size(toks).cast("long")
      val meanWlen = (length(regexp_replace($"text", " ", ""))
        .cast("double") / nWords)
      val maxWlen = array_max(transform(toks, t => length(t)))
      val distinctRatio = (size(array_distinct(toks)).cast("double") / nWords)
      Tables(s, dir, "documents")
        .withColumn("r_count", nWords.between(5L, 5000L))
        .withColumn("r_mwl", meanWlen.between(2.0, 12.0))
        .withColumn("r_maxw", maxWlen <= 30)
        .withColumn("r_rep", distinctRatio >= 0.2)
        .withColumn("keep",
          $"r_count" && $"r_mwl" && $"r_maxw" && $"r_rep")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_keep"),
          sum(when($"r_rep", 0L).otherwise(1L)).as("fail_repetition"),
          sum(when($"r_mwl", 0L).otherwise(1L)).as("fail_word_len"))
        .orderBy($"lang")
    }, Some("""
      WITH f AS (
        SELECT lang,
               len(toks) AS n_words,
               length(replace(text, ' ', ''))::DOUBLE / len(toks) AS mwl,
               list_max(list_transform(toks, t -> length(t))) AS maxw,
               len(list_distinct(toks))::DOUBLE / len(toks) AS dr
        FROM (SELECT lang, text, string_split(text, ' ') AS toks FROM documents)),
      r AS (
        SELECT lang,
               (n_words BETWEEN 5 AND 5000) AND (mwl BETWEEN 2.0 AND 12.0)
                 AND (maxw <= 30) AND (dr >= 0.2) AS keep,
               (mwl BETWEEN 2.0 AND 12.0) AS r_mwl,
               dr >= 0.2 AS r_rep
        FROM f)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             CAST(sum(CASE WHEN r_rep THEN 0 ELSE 1 END) AS BIGINT) AS fail_repetition,
             CAST(sum(CASE WHEN r_mwl THEN 0 ELSE 1 END) AS BIGINT) AS fail_word_len
      FROM r GROUP BY lang ORDER BY lang""")),

    // SimHash document fingerprints (bitwise majority over token
    // hashes) — near-dup docs land at small Hamming distance.
    QDef("pipe_simhash", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .filter($"doc_id" % 20 === 0)
        .withColumn("tokset", array_distinct(Text.tokens($"text")))
        .withColumn("simhash", expr(Text.simhash32Sql("tokset")))
        .select($"doc_id", $"simhash",
          expr("shiftright(simhash, 24)").as("bucket"))
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32), b ->
               CASE WHEN 2 * list_sum(list_transform(tokset, t ->
                      (CAST('0x' || substring(md5('0|' || t), 1, 15) AS BIGINT) >> b) % 2))
                    > len(tokset)
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash,
             CAST(list_sum(list_transform(range(0, 32), b ->
               CASE WHEN 2 * list_sum(list_transform(tokset, t ->
                      (CAST('0x' || substring(md5('0|' || t), 1, 15) AS BIGINT) >> b) % 2))
                    > len(tokset)
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) >> 24 AS bucket
      FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset
            FROM documents WHERE doc_id % 20 = 0)
      ORDER BY doc_id""")),

    // SimHash near-dup PAIRS by pigeonhole banding: 4 bands of 8 bits
    // over the 32-bit simhash — a pair within hamming distance 3 has
    // at most 3 differing bit positions, which can touch at most 3
    // bands, so at least one band matches EXACTLY and the banded
    // equi-join finds every such pair (lossless, no all-pairs scan).
    // The ORACLE is the brute-force O(n²) pair scan in DuckDB, so a
    // hash match PROVES the banding loses nothing. At 100 TB the
    // banded join touches ~|docs|²/(4·256) candidate pairs instead of
    // |docs|² — the standard multi-index hamming-ball search.
    QDef("pipe_simhash_bands", (s, dir) => {
      import s.implicits._
      // persisted: the 32×|tokens| simhash expression is the dominant
      // cost and BOTH join sides read it — without the persist it runs
      // twice over the corpus
      val hs = Tables(s, dir, "documents")
        .filter($"doc_id" % 5 === 0)
        .withColumn("tokset", array_distinct(Text.tokens($"text")))
        .withColumn("sh", expr(Text.simhash32Sql("tokset")))
        .select($"doc_id", $"sh")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val bands = hs.select($"doc_id", $"sh",
          explode(expr("sequence(0, 3)")).as("b"))
        .withColumn("bv", expr("(sh >> (8 * b)) & 255"))
      val a = bands.select($"b", $"bv", $"doc_id".as("id1"), $"sh".as("sh1"))
      val bb = bands.select($"b", $"bv", $"doc_id".as("id2"), $"sh".as("sh2"))
      a.join(bb, Seq("b", "bv"))
        .filter($"id1" < $"id2")
        .select($"id1", $"id2", $"sh1", $"sh2").distinct()
        .withColumn("hd", expr("bit_count(sh1 ^ sh2)"))
        .filter($"hd" <= 3)
        .select($"id1", $"id2", $"hd")
        .orderBy($"id1", $"id2")
    }, Some(s"""
      WITH sh AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 32), b ->
                 CASE WHEN 2 * list_sum(list_transform(tokset, t ->
                        (CAST('0x' || substring(md5('0|' || t), 1, 15) AS BIGINT) >> b) % 2))
                      > len(tokset)
                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sh
        FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset
              FROM documents WHERE doc_id % 5 = 0))
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             bit_count(xor(a.sh, b.sh)) AS hd
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY id1, id2""")),

    // Text quality stats per language: token counts, type-token
    // ratio, mean token length, filler-token ratio — the standard
    // corpus-quality heuristics.
    QDef("pipe_text_stats", (s, dir) => {
      import s.implicits._
      val D = "decimal(18,6)"
      Tables(s, dir, "documents")
        .withColumn("toks", Text.tokens($"text"))
        .select($"lang",
          size($"toks").as("n_tok"),
          (size(array_distinct($"toks")).cast("double") / size($"toks"))
            .cast(D).as("ttr"),
          (length($"text").cast("double") / size($"toks")).cast(D).as("tok_len"),
          (size(expr("filter(toks, t -> t IN ('a', 'big', 'data'))")).cast("double") /
            size($"toks")).cast(D).as("filler"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("docs"),
          sum($"n_tok").as("tokens"),
          round((sum($"ttr") / count(lit(1))).cast("double"), 4).as("avg_ttr"),
          round((sum($"tok_len") / count(lit(1))).cast("double"), 4).as("avg_tok_len"),
          round((sum($"filler") / count(lit(1))).cast("double"), 4).as("avg_filler"))
        .orderBy($"lang")
    }, Some("""
      SELECT lang, count(*) AS docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
             round(CAST(sum(ttr) / count(*) AS DOUBLE), 4) AS avg_ttr,
             round(CAST(sum(tok_len) / count(*) AS DOUBLE), 4) AS avg_tok_len,
             round(CAST(sum(filler) / count(*) AS DOUBLE), 4) AS avg_filler
      FROM (SELECT lang, len(toks) AS n_tok,
                   CAST(len(list_distinct(toks))::DOUBLE / len(toks) AS DECIMAL(18,6)) AS ttr,
                   CAST(length(text)::DOUBLE / len(toks) AS DECIMAL(18,6)) AS tok_len,
                   CAST(len(list_filter(toks, t -> t IN ('a', 'big', 'data')))::DOUBLE
                        / len(toks) AS DECIMAL(18,6)) AS filler
            FROM (SELECT lang, text, string_split(text, ' ') AS toks FROM documents))
      GROUP BY lang ORDER BY lang""")),

    // Language ID as a naive-Bayes token-profile classifier, fully
    // relational. The Laplace-smoothed score decomposes as
    //   score(d, L) = Σ_matched tf·log(c+1) − ntf(d)·log(n_l + v)
    // (unmatched tokens contribute log(1) = 0 to the first term), so
    // the corpus-sized frame joins the profile table ONCE on tok.
    // r15: the docs×|langs| grid never materializes as ROWS at all —
    // per-doc matched evidence folds into a map column, the per-lang
    // constants broadcast as ONE map row, and the winner is an argmax
    // inside a single aggregate() expression (no window sort, no
    // docs×L exchange). ntf rides along free: prof is built from this
    // very corpus, so the doc's own-language profile matches EVERY
    // token — sum(tf) at plang = lang IS the doc's token count.
    // 6dp-rounded decimal log terms keep every sum order-independent
    // at any executor count. Output: confusion matrix.
    QDef("pipe_lang_id", (s, dir) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val D = "decimal(18,6)"
      // Per-doc token multiplicities finished WITHIN the row by the
      // token_counts generator (r15) — the exploded corpus (one row
      // per token OCCURRENCE, the pipeline's heaviest frame) never
      // reaches an exchange; downstream operators see one row per
      // DISTINCT (doc, token) straight off the scan.
      val docToks = Tables(s, dir, "documents")
        .select($"doc_id", $"lang",
          expr("token_counts(split(text, ' '))"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // profiles, per-lang totals, vocabulary all DERIVE from prof
      // (vocab×|langs| rows) instead of re-scanning the corpus.
      val prof = docToks.groupBy($"lang".as("plang"), $"tok")
        .agg(sum($"tf").as("c"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val vocab = prof.agg(countDistinct($"tok").as("v"))
      // per-lang penalty constant log(n_l + v): dictionary-sized —
      // folded below into a single map row and broadcast
      val consts = prof.groupBy($"plang").agg(sum($"c").as("n_l"))
        .crossJoin(broadcast(vocab))
        .select($"plang",
          round(log(($"n_l" + $"v").cast("double")), 6).cast(D).as("logd"))
      val cmapRow = consts
        .agg(map_from_entries(collect_list(struct($"plang", $"logd")))
          .as("cmap"))
      // matched evidence: ONE corpus-sized join, on tok only — a
      // (doc, tok) row meets just the profiles that contain the token.
      // No broadcast hint on prof (vocab×|langs| exceeds broadcast
      // limits at web scale; AQE picks broadcast while it fits).
      val matched = docToks
        .join(prof.select($"plang", $"tok",
          round(log($"c" + 1), 6).cast(D).as("logc")), Seq("tok"))
        .groupBy($"doc_id", $"lang", $"plang")
        .agg(sum($"logc" * $"tf").as("msum"), sum($"tf").as("mtf"))
      // per-doc row: matched scores as a bounded map (≤ |langs|
      // entries) + the free token count
      val perdoc = matched.groupBy($"doc_id", $"lang")
        .agg(map_from_entries(collect_list(struct($"plang", $"msum")))
          .as("mmap"),
          max(when($"plang" === $"lang", $"mtf")).as("ntf"))
      // argmax over the broadcast constant map: score every language
      // inside one expression, keep (max score, min plang) — the same
      // (score DESC, plang ASC) winner the old window computed
      val predicted = perdoc.crossJoin(broadcast(cmapRow))
        .withColumn("predicted", expr("""
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
      predicted
        .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"predicted")
    }, Some("""
      WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
      dt AS (SELECT doc_id, lang, tok, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
      prof AS (SELECT lang AS plang, tok, CAST(sum(tf) AS BIGINT) AS c
               FROM dt GROUP BY 1, 2),
      langs AS (SELECT DISTINCT plang FROM prof),
      vocab AS (SELECT count(DISTINCT tok) AS v FROM prof),
      consts AS (SELECT plang,
                        CAST(round(ln(CAST(n_l + v AS DOUBLE)), 6)
                             AS DECIMAL(18,6)) AS logd
                 FROM (SELECT plang, CAST(sum(c) AS BIGINT) AS n_l
                       FROM prof GROUP BY 1) CROSS JOIN vocab),
      ntf AS (SELECT doc_id, lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS ntf
              FROM documents),
      matched AS (
        SELECT t.doc_id, t.lang, p.plang,
               sum(CAST(round(ln(p.c + 1), 6) AS DECIMAL(18,6)) * t.tf) AS msum
        FROM dt t JOIN prof p ON p.tok = t.tok
        GROUP BY 1, 2, 3),
      scored AS (
        SELECT ntf.doc_id, ntf.lang, l.plang,
               coalesce(m.msum, CAST(0 AS DECIMAL(18,6))) - ntf.ntf * c.logd
                 AS score
        FROM ntf CROSS JOIN langs l
        LEFT JOIN matched m ON m.doc_id = ntf.doc_id AND m.lang = ntf.lang
                           AND m.plang = l.plang
        JOIN consts c ON c.plang = l.plang),
      pred AS (SELECT doc_id, lang, plang,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, plang) AS rn
               FROM scored)
      SELECT lang, plang AS predicted, count(*) AS n
      FROM pred WHERE rn = 1 GROUP BY lang, predicted
      ORDER BY lang, predicted""")),

    // Rolling-hash document fingerprint + shard assignment — the
    // deterministic doc-identity primitive used for incremental dedup.
    QDef("pipe_fingerprint", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .filter($"doc_id" % 20 === 0)
        .select($"doc_id",
          substring(md5($"text"), 1, 8).as("fp"),
          (Text.mh60(lit(7), $"text") % 64).as("shard"))
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id, substring(md5(text), 1, 8) AS fp,
             CAST('0x' || substring(md5('7|' || text), 1, 15) AS BIGINT) % 64 AS shard
      FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id""")),

    // SQL-lambda UDF surface (§2.10): CREATE FUNCTION analog via
    // spark.udf.register — integer arithmetic so results are exact.
    QDef("pipe_udf_quality", (s, dir) => {
      import s.implicits._
      s.udf.register("quality_score",
        (text: String) => text.split(" ").length * 2 + text.length % 7)
      Tables(s, dir, "documents")
        .filter($"doc_id" % 20 === 0)
        .selectExpr("doc_id", "quality_score(text) AS q")
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id, len(string_split(text, ' ')) * 2 + length(text) % 7 AS q
      FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id""")),

    // IVF ANN (data-adaptive cells): k-means index build — the one
    // legitimate iterative job, and it's INDEX BUILD, not query — then
    // probes equi-join their own cell and scan ~1/k of the corpus.
    // Same bucket-join shuffle shape as pipe_ann_lsh with learned
    // cells. HASH-CHECKED since r16 (verdict task 1b): the learned
    // centroids are inlined as LITERALS into both engines — cell
    // assignment is a squared-L2 argmin recomputed identically from
    // those literals (Vectors.ivfCellCol / ivfDistsDuckSql, sequential
    // folds, first-min tie-break), and the probe top-k hash-checks like
    // pipe_sim_topk. The oracle is a dynOracle: its SQL text embeds the
    // centroids this run's k-means produced (Verify dumps oracle after
    // running the queries). IvfSpec still pins recall of the real
    // model.transform path against exact top-k.
    QDef("pipe_ann_ivf", (s, dir) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = Tables(s, dir, "embeddings")
      val (assigned, cents) =
        Vectors.ivfIndexCached(emb, dir, "embedding", 8, seed = 42L)
      // Gate cells come from the centroid LITERALS, not model.transform
      // — both engines must run the same arithmetic on the same
      // constants for the hash to be meaningful (Spark ML's internal
      // distance path uses a norm-shortcut expansion that can flip
      // borderline assignments by an ulp).
      val withCell = assigned.drop("cell")
        .withColumn("cell",
          Vectors.ivfCellCol($"embedding", cents.toSeq.map(_.toSeq)))
      // Constant probe set: a modulo filter (vec_id % N == 0) makes the
      // probe batch grow WITH the corpus — probe×cell work then scales
      // superlinearly at 100 TB. Queries are external at scale; a fixed
      // demo set keeps the broadcast O(1) like pipe_sim_topk.
      val probes = withCell.filter($"vec_id" < 8)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"), $"cell")
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      withCell.join(broadcast(probes), Seq("cell"))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("sim", expr("cosine_sim(embedding, q_vec)"))
        .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
        .select($"q_id", $"rn".as("rank"), $"vec_id", round($"sim", 4).as("sim"))
        .orderBy($"q_id", $"rank")
    }, None, dynOracle = Some(() => Vectors.ivfOracleSql())),

    // IVF MULTI-PROBE (r16 verdict task 6): the recall-vs-cost knob
    // ops/Vectors documents, now oracle-checked instead of just
    // described. Each demo probe searches its nprobe=2 nearest cells
    // (centroid-distance sort over the SAME literal centroids as
    // pipe_ann_ivf — one shared k-means build via ivfIndexCached),
    // doubling candidates for strictly-no-worse top-3 recall (IvfSpec
    // asserts the ≥ relation against single-probe). Plan shape is
    // unchanged: constant-size probe broadcast (8 probes × 2 cells),
    // corpus equi-join on cell, per-probe top-k window.
    QDef("pipe_ann_ivf_mp", (s, dir) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = Tables(s, dir, "embeddings")
      val (assigned, cents) =
        Vectors.ivfIndexCached(emb, dir, "embedding", 8, seed = 42L)
      val cs = cents.toSeq.map(_.toSeq)
      val withCell = assigned.drop("cell")
        .withColumn("cell", Vectors.ivfCellCol($"embedding", cs))
      val probes = withCell.filter($"vec_id" < 8)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
          explode(Vectors.ivfProbeCellsCol($"embedding", cs, 2)).as("cell"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      withCell.join(broadcast(probes), Seq("cell"))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("sim", expr("cosine_sim(embedding, q_vec)"))
        .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
        .select($"q_id", $"rn".as("rank"), $"vec_id", round($"sim", 4).as("sim"))
        .orderBy($"q_id", $"rank")
    }, None, dynOracle = Some(() => Vectors.ivfOracleSqlMp(2))),

    // Multimodal columns: opaque binary payload + typed metadata
    // struct; "decode" is the documented deterministic stub (real
    // decoders aren't in this container — the Spark-side schema,
    // partitioning and batch plumbing are the real artifact; see
    // graft.ops.Multimodal for the mapPartitions batch path).
    QDef("pipe_multimodal", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("payload", $"text".cast("binary"))
        .withColumn("meta", struct($"lang", $"n_chars"))
        .withColumn("thumb", substring(md5($"text"), 1, 8))
        .groupBy($"meta.lang".as("lang"))
        .agg(count(lit(1)).as("n_assets"),
          sum(octet_length($"payload")).as("total_bytes"),
          min($"thumb").as("first_thumb"))
        .orderBy($"lang")
    }, Some("""
      SELECT lang, count(*) AS n_assets,
             CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
             min(substring(md5(text), 1, 8)) AS first_thumb
      FROM documents GROUP BY lang ORDER BY lang""")),

    // REAL multimodal decode end-to-end: every document becomes a
    // genuine binary asset — even ids a binary PPM (P6) image whose
    // dimensions derive from n_chars and whose constant pixel value is
    // doc_id % 251; odd ids a RIFF/PCM16 WAV whose sample count
    // derives from n_chars at constant amplitude doc_id % 1000 — then
    // ops/Multimodal's codecs parse the bytes back (header/chunk
    // walking, exact luma/RMS sums) in bounded per-partition batches.
    // The oracle recomputes every decoded quantity in closed form
    // from (doc_id, n_chars): any parser drift (dimensions, duration
    // rounding, luma weights, sample scaling) breaks the hash. The
    // encode→decode pair is self-inverse, so agreement proves BOTH
    // directions parse/emit the formats correctly.
    QDef("pipe_multimodal_decode", (s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .select($"doc_id", $"n_chars")
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val bytes =
            if (id % 2 == 0) {
              val w = (nc % 64).toInt + 8
              val h = (nc % 48).toInt + 6
              Multimodal.encodePpm(w, h, 255,
                Array.fill(w * h * 3)((id % 251).toByte))
            } else {
              val n = (nc % 16000).toInt + 100
              Multimodal.encodeWav(8000, 1, Array.fill(n)((id % 1000).toShort))
            }
          (id, bytes)
        }
      Multimodal.decodeMedia(media, batchSize = 64)
        .groupBy($"kind")
        .agg(count(lit(1)).as("n_assets"),
          sum($"width".cast("long")).as("w_sum"),
          sum($"height".cast("long")).as("h_sum"),
          sum($"duration_ms").as("dur_sum"),
          Det.dsum($"mean_level").as("level_sum"))
        .orderBy($"kind")
    }, Some(s"""
      WITH m AS (
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
               CASE WHEN doc_id % 2 = 0 THEN (n_chars % 64) + 8 ELSE 0 END AS width,
               CASE WHEN doc_id % 2 = 0 THEN (n_chars % 48) + 6 ELSE 0 END AS height,
               CASE WHEN doc_id % 2 = 0 THEN 0
                    ELSE (((n_chars % 16000) + 100) * 2 * 1000) // 16000 END AS duration_ms,
               CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 251 AS DOUBLE)
                    ELSE CAST(doc_id % 1000 AS DOUBLE) END AS mean_level
        FROM documents)
      SELECT kind, count(*) AS n_assets,
             CAST(sum(width) AS BIGINT) AS w_sum,
             CAST(sum(height) AS BIGINT) AS h_sum,
             CAST(sum(duration_ms) AS BIGINT) AS dur_sum,
             ${Det.sqlSum("mean_level")} AS level_sum
      FROM m GROUP BY kind ORDER BY kind""")),

    // REAL audio feature extraction: square-wave PCM16 assets
    // (alternating ±(doc_id % 1000), sample count from n_chars) run
    // through the windowed DSP path — per-250ms-window RMS from exact
    // integer square sums and zero-crossing rate. Closed forms: a
    // square wave's every window has RMS = amplitude exactly and ZCR
    // = 1 (every consecutive pair crosses); silence has 0/0 — so the
    // oracle recomputes every decoded feature from (doc_id, n_chars)
    // alone and any windowing/DSP drift breaks the hash.
    QDef("pipe_audio_features", (s, dir) => {
      import s.implicits._
      val wavs = Tables(s, dir, "documents")
        .select($"doc_id", $"n_chars")
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val n = (nc % 16000).toInt + 100
          val a = (id % 1000).toShort
          val samples = Array.tabulate(n)(i =>
            if (i % 2 == 0) a else (-a).toShort)
          (id, Multimodal.encodeWav(8000, 1, samples))
        }
      Multimodal.audioWindowFeatures(wavs, windowMs = 250)
        .toDF()
        .agg(count(lit(1)).as("n_assets"),
          sum($"n_windows".cast("long")).as("windows_sum"),
          Det.dsum(when($"n_windows" > 0, $"rms_mean")).as("rms_sum"),
          Det.dsum(when($"n_windows" > 0, $"zcr_mean")).as("zcr_sum"))
    }, Some(s"""
      WITH m AS (SELECT doc_id % 1000 AS a,
                        ((n_chars % 16000) + 100) // 2000 AS n_w
                 FROM documents)
      SELECT count(*) AS n_assets,
             CAST(sum(n_w) AS BIGINT) AS windows_sum,
             ${Det.sqlSum("CASE WHEN n_w > 0 THEN CAST(a AS DOUBLE) END")} AS rms_sum,
             ${Det.sqlSum("CASE WHEN n_w > 0 AND a > 0 THEN 1.0 WHEN n_w > 0 THEN 0.0 END")} AS zcr_sum
      FROM m""")),

    // REAL image resize on the multimodal path: synthetic gradient
    // PPMs (pixel (x,y,ch) = (7x + 13y + id + 31ch) mod 256) are
    // nearest-neighbor downsampled to 8×6 with pure integer source
    // sampling (X·w div 8), then every byte of the resized payload is
    // pinned by an integer checksum the oracle recomputes from the
    // closed form alone — any sampling/rounding drift breaks the
    // hash. Typed per-row map, embarrassingly parallel at any scale.
    QDef("pipe_image_resize", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .filter($"doc_id" % 7 === 0)
        .select($"doc_id")
        .as[Long]
        .map { id =>
          val w = (id % 16 + 4).toInt
          val h = (id % 12 + 3).toInt
          val px = Array.tabulate(w * h * 3) { k =>
            val p = k / 3; val x = p % w; val y = p / w; val ch = k % 3
            ((7L * x + 13L * y + id + 31L * ch) % 256).toByte
          }
          val resized = Multimodal.resizePpm(
            Multimodal.encodePpm(w, h, 255, px), 8, 6)
          val img = Multimodal.decodePpm(resized)
          val payload = resized.drop(resized.length - 8 * 6 * 3)
          val checksum = payload.foldLeft(0L)((a, b) => a + (b & 0xff))
          (id, img.width, img.height, checksum)
        }
        .toDF("doc_id", "w2", "h2", "checksum")
        .orderBy($"doc_id")
    }, Some("""
      WITH g AS (SELECT unnest(generate_series(0, 7)) AS x),
      gy AS (SELECT unnest(generate_series(0, 5)) AS y),
      gc AS (SELECT unnest(generate_series(0, 2)) AS ch),
      d AS (SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 3 AS h
            FROM documents WHERE doc_id % 7 = 0)
      SELECT doc_id, 8 AS w2, 6 AS h2,
             CAST(sum((7 * ((x * w) // 8) + 13 * ((y * h) // 6)
                       + doc_id + 31 * ch) % 256) AS BIGINT) AS checksum
      FROM d, g, gy, gc
      GROUP BY doc_id
      ORDER BY doc_id""")),

    // REAL video frame sampling: synthetic y4m clips (mono frames,
    // pixel (x,y) of frame f = (x + 7y + 3f + id) mod 256) are walked
    // through the YUV4MPEG2 reader keeping every 3rd frame, and each
    // kept frame's exact integer luma sum is pinned by a closed-form
    // oracle over the (frame, x, y) grid — decimation arithmetic,
    // header parsing, and payload walking all break the hash if they
    // drift. Typed per-row map, embarrassingly parallel.
    QDef("pipe_video_frames", (s, dir) => {
      import s.implicits._
      val W = 8; val H = 6
      Tables(s, dir, "documents")
        .filter($"doc_id" % 13 === 0)
        .select($"doc_id")
        .as[Long]
        .map { id =>
          val nF = (id % 12 + 2).toInt
          val frames = Seq.tabulate(nF) { f =>
            Array.tabulate(W * H) { p =>
              val x = p % W; val y = p / W
              ((x + 7L * y + 3L * f + id) % 256).toByte
            }
          }
          val v = Multimodal.sampleY4mFrames(
            Multimodal.encodeY4m(W, H, frames), 3)
          (id, v.nFrames, v.sampledFrames.length, v.frameLumaSums.sum)
        }
        .toDF("doc_id", "n_frames", "n_sampled", "luma_total")
        .orderBy($"doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, doc_id % 12 + 2 AS nf
                 FROM documents WHERE doc_id % 13 = 0),
      fr AS (SELECT doc_id, nf, unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 3)) AS f
             FROM d),
      px AS (SELECT doc_id, nf, f,
                    unnest(generate_series(0, 7)) AS x
             FROM fr),
      cell AS (SELECT doc_id, nf, f, x, unnest(generate_series(0, 5)) AS y
               FROM px)
      SELECT doc_id,
             CAST(max(nf) AS INT) AS n_frames,
             CAST(count(DISTINCT f) AS INT) AS n_sampled,
             CAST(sum((x + 7 * y + 3 * f + doc_id) % 256) AS BIGINT) AS luma_total
      FROM cell
      GROUP BY doc_id
      ORDER BY doc_id""")),

    // PII redaction — the standard compliance pass before training:
    // count + mask emails, dotted-quad IPs, and long digit runs
    // (account-number shaped). Deterministic PII is SPIKED into each
    // doc from its id (the fixture corpus carries none), then both
    // engines count (non-overlapping regex matches) and redact
    // (email → ip → digit-run order, so partial overlaps resolve
    // identically) with the SAME RE2-portable patterns; the md5 of
    // the redacted text pins every replacement byte. Pure per-row
    // projection — scale-safe at any corpus size.
    QDef("pipe_pii_redact", (s, dir) => {
      import s.implicits._
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
      val digits = "[0-9]{6,}"
      Tables(s, dir, "documents")
        .filter($"doc_id" % 11 === 0)
        .withColumn("t", concat($"text", lit(" contact: user"),
          $"doc_id".cast("string"), lit("@example.com from 10.0."),
          ($"doc_id" % 256).cast("string"), lit(".7 acct 4111"),
          $"doc_id".cast("string")))
        .select(
          $"doc_id",
          regexp_count($"t", lit(email)).as("n_email"),
          regexp_count($"t", lit(ipv4)).as("n_ip"),
          regexp_count($"t", lit(digits)).as("n_digit_runs"),
          md5(regexp_replace(regexp_replace(regexp_replace($"t",
            email, "<EMAIL>"), ipv4, "<IP>"), digits, "<NUM>"))
            .as("redacted_md5"))
        .orderBy($"doc_id")
    }, Some("""
      WITH spiked AS (
        SELECT doc_id,
               text || ' contact: user' || doc_id || '@example.com from 10.0.'
                    || (doc_id % 256) || '.7 acct 4111' || doc_id AS t
        FROM documents WHERE doc_id % 11 = 0)
      SELECT doc_id,
             CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
             CAST(len(regexp_extract_all(t,
               '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS INT) AS n_ip,
             CAST(len(regexp_extract_all(t, '[0-9]{6,}')) AS INT) AS n_digit_runs,
             md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g'),
               '[0-9]{6,}', '<NUM>', 'g')) AS redacted_md5
      FROM spiked
      ORDER BY doc_id""")),

    // Unigram-LM quality score — the relational form of the KenLM-
    // style perplexity filter (CCNet/RedPajama): train token
    // frequencies over the corpus itself (one shuffle), score each
    // doc by its Laplace-smoothed mean log-likelihood, flag the low
    // tail. The doc×token join is per-DISTINCT-token (tf pre-agg, the
    // same fan-out bound as pipe_lang_id); the freq table is a plain
    // equi-join — AQE broadcasts it while vocab fits and shuffles
    // beyond. Log-probs go through round(…,6)+DECIMAL before any sum
    // (the established FP-order-independence convention).
    QDef("pipe_unigram_logprob", (s, dir) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      // token_counts generator (r15): tf finished within the row — the
      // occurrence-level corpus never reaches an exchange; freq and
      // the corpus totals derive from the persisted DISTINCT-(doc,tok)
      // frame (freq = Σtf, n = Σtf, v = distinct tok — identical
      // observables, one row per token TYPE instead of per occurrence)
      val docToks = Tables(s, dir, "documents")
        .select($"doc_id", $"lang", expr("token_counts(split(text, ' '))"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val freq = docToks.groupBy($"tok").agg(sum($"tf").as("c"))
      val tot = docToks.agg(sum($"tf").as("n"), countDistinct($"tok").as("v"))
      val scored = docToks
        .join(freq, Seq("tok")) // every token has a freq (self-trained)
        .crossJoin(broadcast(tot))
        .withColumn("logp",
          round(log(($"c" + lit(1)) / ($"n" + $"v").cast("double")), 6)
            .cast("decimal(18,6)"))
        .groupBy($"doc_id", $"lang")
        .agg(round(sum($"logp" * $"tf").cast("double") / sum($"tf"), 4)
          .as("avg_logp"))
      scored.groupBy($"lang")
        .agg(count(lit(1)).as("docs"),
          sum(($"avg_logp" < -3.45).cast("long")).as("flagged"),
          Det.dsum($"avg_logp").as("sum_logp"))
        .orderBy($"lang")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
      dt AS (SELECT doc_id, lang, tok, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
      freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
      tot AS (SELECT count(*) AS n, count(DISTINCT tok) AS v FROM toks),
      scored AS (
        SELECT dt.doc_id, dt.lang,
               round(CAST(sum(CAST(round(ln((f.c + 1) /
                       CAST(t.n + t.v AS DOUBLE)), 6) AS DECIMAL(18,6))
                     * dt.tf) AS DOUBLE) / sum(dt.tf), 4) AS avg_logp
        FROM dt JOIN freq f USING (tok) CROSS JOIN tot t
        GROUP BY 1, 2)
      SELECT lang, count(*) AS docs,
             CAST(sum(CASE WHEN avg_logp < -3.45 THEN 1 ELSE 0 END) AS BIGINT)
               AS flagged,
             ${graft.Det.sqlSum("avg_logp")} AS sum_logp
      FROM scored GROUP BY lang ORDER BY lang""")),

    // Gopher-style repetition filter (Rae et al. 2021 §A1.1, token
    // variant): per doc, the fraction of bigrams that are repeats of
    // an earlier bigram and the fraction claimed by the single most
    // frequent bigram; a doc is kept when both sit under the paper's
    // style of thresholds. All work is per-row bounded (O(tokens²)
    // worst case on the distinct-bigram scan, with tokens capped by
    // doc length) — no shuffle until the final per-lang rollup, so
    // the filter runs at any corpus size. Fractions go through
    // DECIMAL before averaging (FP-order independence).
    QDef("pipe_gopher_repetition", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .withColumn("grams", expr(
          """transform(sequence(1, size(toks) - 1),
                       i -> concat(element_at(toks, i), ' ',
                                   element_at(toks, i + 1)))"""))
        .withColumn("n2", size($"grams"))
        .withColumn("dup_frac", ((($"n2" - size(array_distinct($"grams")))
          .cast("double")) / $"n2").cast("decimal(18,6)"))
        // most-frequent-gram count = longest equal run in the SORTED
        // gram array — one O(n log n) sort + O(n) fold per document,
        // not the O(distinct · n) filter-count scan (measured 2× on
        // the bench: every doc paid ~n²/2 string equality checks)
        .withColumn("top_frac", (expr(
          """aggregate(array_sort(grams),
                       named_struct('p', '', 'r', 0, 'b', 0),
                       (acc, x) -> named_struct(
                         'p', x,
                         'r', IF(x = acc.p, acc.r + 1, 1),
                         'b', greatest(acc.b, IF(x = acc.p, acc.r + 1, 1))),
                       acc -> acc.b)""")
          .cast("double") / $"n2").cast("decimal(18,6)"))
        .withColumn("keep",
          ($"dup_frac" < 0.60 && $"top_frac" < 0.08).cast("int"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("docs"),
          sum($"keep").as("kept"),
          round((sum($"dup_frac") / count(lit(1))).cast("double"), 4)
            .as("avg_dup_frac"),
          round((sum($"top_frac") / count(lit(1))).cast("double"), 4)
            .as("avg_top_frac"))
        .orderBy($"lang")
    }, Some("""
      SELECT lang, count(*) AS docs, CAST(sum(keep) AS BIGINT) AS kept,
             round(CAST(sum(dup_frac) / count(*) AS DOUBLE), 4) AS avg_dup_frac,
             round(CAST(sum(top_frac) / count(*) AS DOUBLE), 4) AS avg_top_frac
      FROM (
        SELECT lang,
               CAST((n2 - len(list_distinct(grams)))::DOUBLE / n2
                    AS DECIMAL(18,6)) AS dup_frac,
               CAST(list_max(list_transform(list_distinct(grams),
                      g -> len(list_filter(grams, x -> x = g))))::DOUBLE / n2
                    AS DECIMAL(18,6)) AS top_frac,
               CASE WHEN (n2 - len(list_distinct(grams)))::DOUBLE / n2 < 0.60
                     AND list_max(list_transform(list_distinct(grams),
                           g -> len(list_filter(grams, x -> x = g))))::DOUBLE
                         / n2 < 0.08
                    THEN 1 ELSE 0 END AS keep
        FROM (
          SELECT lang, grams, len(grams) AS n2
          FROM (
            SELECT lang,
                   list_transform(generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1]) AS grams
            FROM (SELECT lang, string_split(text, ' ') AS toks
                  FROM documents))))
      GROUP BY lang ORDER BY lang"""))
  )

  // End-to-end curation pipeline (the north-star composition): score
  // quality → find near-dup losers (minhash LSH, same parameters as
  // pipe_minhash_lsh at threshold 0.5) → drop each pair's higher
  // doc_id → report kept / dropped-as-dup / dropped-low-quality per
  // language. Since r17 this is the GUARDED production shape end to
  // end (r16 verdict task 4): exact-dedup first, the hot-bucket-capped
  // band join over representatives only (the shared lshPairs frame —
  // zero extra band joins for this entry), then per-member loser
  // algebra instead of pair expansion. A member d is a dup loser iff
  // an earlier (smaller-id) near-dup of it exists:
  //   intra — d is not its group's representative (rep = min id; the
  //           pair (rep, d) has Jaccard 1 ≥ 0.5 whenever the group's
  //           shingle set is nonempty — NULL 0/0 otherwise, dropped
  //           exactly like the unguarded chain);
  //   cross — some group adjacent at jac ≥ 0.5 has a member < d,
  //           i.e. min(adjacent reps) < d (reps are group minima).
  // Linear in members everywhere; the DuckDB oracle still runs the
  // unguarded quadratic chain, so the gate proves the algebra.
  val curationDef: QDef = QDef("pipe_curation_e2e", (s, dir) => {
    import s.implicits._
    val docsQ = Tables(s, dir, "documents")
      .withColumn("q", size(Text.tokens($"text")) * 2 + length($"text") % 7)
      .select($"doc_id", $"lang", $"q")
    val groups = lshGroups(s, dir)
    val repSh = lshDocs(s, dir)
      .select($"doc_id".as("rep_id"), (size($"sh") > 0).as("sh_ok"))
    val p05 = lshPairs(s, dir).filter($"jac" >= 0.5)
    val adjMin = p05.select($"doc_a".as("rep_id"), $"doc_b".as("nbr"))
      .unionByName(p05.select($"doc_b".as("rep_id"), $"doc_a".as("nbr")))
      .groupBy($"rep_id").agg(min($"nbr").as("min_adj"))
    docsQ.join(groups, "doc_id")
      .join(repSh, "rep_id")
      .join(adjMin, Seq("rep_id"), "left")
      .withColumn("is_dup",
        ($"doc_id" =!= $"rep_id" && $"sh_ok") ||
          coalesce($"min_adj" < $"doc_id", lit(false)))
      .withColumn("status",
        when($"is_dup", "dup")
          .when($"q" < 100, "low_quality")
          .otherwise("kept"))
      .groupBy($"lang")
      .agg(count(when($"status" === "kept", 1)).as("kept"),
        count(when($"status" === "dup", 1)).as("dropped_dup"),
        count(when($"status" === "low_quality", 1)).as("dropped_quality"))
      .orderBy($"lang")
  }, Some("""
      WITH d AS (
        SELECT doc_id, lang,
               len(toks) * 2 + length(text) % 7 AS q,
               list_distinct(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS shs
        FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
              FROM documents)),
      hp AS (
        SELECT doc_id, lang, q, list_transform(shs, x -> struct_pack(
                 h1 := CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
                       % 36028797018963968,
                 h2 := CAST('0x' || substring(md5(x), 16, 15) AS BIGINT)
                       % 36028797018963968)) AS hp
        FROM d),
      hs AS (
        SELECT doc_id, lang, q,
               list_distinct(list_transform(hp, p -> p.h1)) AS sh,
               list_transform(range(0, 16), s ->
                 list_min(list_transform(hp, p -> (p.h1 + s * p.h2) % 36028797018963968))) AS sig
        FROM hp),
      bands AS (
        SELECT doc_id, unnest(list_transform(range(0, 8), i ->
                 i || ':' || array_to_string(sig[i*2+1:i*2+2], ','))) AS bk
        FROM hs),
      losers AS (
        SELECT DISTINCT doc_b AS doc_id FROM (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id) c
        JOIN hs x ON c.doc_a = x.doc_id
        JOIN hs y ON c.doc_b = y.doc_id
        WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
              len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5)
      SELECT lang,
             count(CASE WHEN status = 'kept' THEN 1 END) AS kept,
             count(CASE WHEN status = 'dup' THEN 1 END) AS dropped_dup,
             count(CASE WHEN status = 'low_quality' THEN 1 END) AS dropped_quality
      FROM (SELECT hs.lang,
                   CASE WHEN losers.doc_id IS NOT NULL THEN 'dup'
                        WHEN hs.q < 100 THEN 'low_quality'
                        ELSE 'kept' END AS status
            FROM hs LEFT JOIN losers ON hs.doc_id = losers.doc_id)
      GROUP BY lang ORDER BY lang"""))

  val vectorDefs: Seq[QDef] = Seq(

    // Exact cosine top-k (brute-force ANN baseline): a FIXED-SIZE
    // query set (vec_id < 8 — O(1) in the corpus size, so the
    // broadcast nested-loop compare count stays O(N) per query batch
    // at any scale) broadcast against the corpus, scored by the
    // codegen'd cosine_sim Catalyst expression (graft.functions),
    // per-query top-3 via window. The one intentional nested-loop
    // join in the repo: brute-force scoring IS all-pairs against the
    // (constant) query set, and each corpus partition scores locally.
    QDef("pipe_sim_topk", (s, dir) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = Tables(s, dir, "embeddings")
      val q = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
      emb.join(broadcast(q), $"vec_id" =!= $"qid")
        .withColumn("sim", expr("cosine_sim(embedding, qv)"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"vec_id".as("neighbor"), round($"sim", 4).as("sim"))
        .orderBy($"qid", $"rank")
    }, Some("""
      WITH q AS (SELECT vec_id AS qid, embedding AS qv
                 FROM embeddings WHERE vec_id < 8),
      sims AS (SELECT qid, vec_id AS neighbor,
                      list_cosine_similarity(qv::DOUBLE[], embedding::DOUBLE[]) AS sim
               FROM q JOIN embeddings ON vec_id <> qid),
      r AS (SELECT qid, neighbor, sim,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, neighbor) AS rank
            FROM sims)
      SELECT qid, rank, neighbor, round(sim, 4) AS sim
      FROM r WHERE rank <= 3 ORDER BY qid, rank""")),

    // Hyperplane-LSH bucketed ANN (the scale path): 8 md5-seeded ±1
    // planes → 8-bit bucket per vector; queries equi-join their
    // bucket and rank candidates exactly. Candidate generation is a
    // hash join on the bucket — no all-pairs scan.
    QDef("pipe_ann_lsh", (s, dir) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = Tables(s, dir, "embeddings")
        .withColumn("bucket", expr(Vectors.bucketSparkSql("embedding", 8, 64)))
      // CONSTANT probe set — corpus-size-independent (a %-based set
      // grows with the data and probes×bucket-size goes quadratic at
      // 100×; same contract as pipe_sim_topk / pipe_ann_ivf)
      val q = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qv"), $"bucket")
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
      q.join(emb, Seq("bucket")).filter($"vec_id" =!= $"qid")
        .withColumn("sim", expr("cosine_sim(embedding, qv)"))
        .withColumn("rank", row_number().over(w))
        .withColumn("n_cand", count(lit(1)).over(Window.partitionBy($"qid")))
        .filter($"rank" === 1)
        .select($"qid", $"bucket", $"n_cand",
          $"vec_id".as("best_match"), round($"sim", 4).as("sim"))
        .orderBy($"qid")
    }, Some(s"""
      WITH b AS (SELECT vec_id, embedding,
                        ${Vectors.bucketDuckSql("embedding", 8, 64)} AS bucket
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, embedding AS qv, bucket
            FROM b WHERE vec_id < 8),
      cand AS (SELECT q.qid, q.bucket, b.vec_id,
                      list_cosine_similarity(q.qv::DOUBLE[], b.embedding::DOUBLE[]) AS sim
               FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.qid),
      r AS (SELECT qid, bucket, vec_id, sim,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, vec_id) AS rank,
                   count(*) OVER (PARTITION BY qid) AS n_cand
            FROM cand)
      SELECT qid, bucket, n_cand, vec_id AS best_match, round(sim, 4) AS sim
      FROM r WHERE rank = 1 ORDER BY qid""")),

    // TOKEN COUNTING for pretraining-cost estimation: whitespace
    // tokens, characters, and a BPE-ish pretokenizer count (the GPT-2
    // pretokenizer shape: contraction suffixes, space-prefixed letter
    // runs, digit runs, punctuation runs). Pure per-row projection —
    // embarrassingly parallel at any scale. The regex uses only
    // alternation + classes, identical leftmost-first semantics in
    // Java (Spark) and RE2 (DuckDB) — no lookarounds.
    QDef("pipe_token_count", (s, dir) => {
      import s.implicits._
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
      Tables(s, dir, "documents")
        .select($"doc_id",
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("ws_tokens"),
          size(regexp_extract_all($"text", lit(pat), lit(0)))
            .cast("long").as("bpe_tokens"),
          length($"text").cast("long").as("chars"))
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS ws_tokens,
             len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))
               AS bpe_tokens,
             length(text) AS chars
      FROM documents ORDER BY doc_id""")),

    // EMBEDDING-COSINE NEAR-DUP: the vector analog of minhash dedup —
    // all pairs with cosine ≥ 0.98, candidates generated by the
    // hyperplane-LSH bucket equi-join (one shuffle), NEVER all-pairs.
    // The fixture's vectors are mutually far (max pairwise cosine
    // ≈ 0.51), so deterministic near-dups are planted: every 5th
    // vector gets a ×1.5-scaled copy — colinear, hence cosine ≈ 1 AND
    // guaranteed same LSH bucket (positive scaling preserves every
    // plane-dot sign), making the bucket join structurally lossless
    // here. The oracle is the brute-force quadratic pairing, so the
    // hash match PROVES the bucketed path found every qualifying pair.
    // Symmetric per-vector int8 quantization (the standard embedding
    // compression before ANN indexing): scale = max|x|/127,
    // q = round(x/scale), plus the reconstruction MSE. Everything is
    // elementwise or an index-order fold, so both engines compute the
    // SAME IEEE doubles — the hash match is exact (outputs rounded to
    // 9dp only as belt-and-braces).
    // Matryoshka truncation: keep the first k dims and L2-renormalize
    // — the MRL serving trick (use a prefix of the trained embedding
    // at 1/D of the cost). Reports the renormalized prefix and how
    // much cosine-vs-full it preserves on a fixed probe vector; one
    // scan, pure codegen'd array arithmetic. The prefix is rendered
    // through DECIMAL(12,6), the one fixed-point text both engines
    // agree on (a double prints as 3.29E-4 in Spark, 0.000329 in DuckDB).
    QDef("pipe_embed_matryoshka", (s, dir) => {
      import s.implicits._
      val k = 8
      Tables(s, dir, "embeddings")
        .filter($"vec_id" % 50 === 0)
        .withColumn("pre", expr(s"slice(embedding, 1, $k)"))
        .withColumn("nrm", expr(
          """sqrt(aggregate(pre, CAST(0 AS DOUBLE),
               (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"""))
        .withColumn("full_nrm", expr(
          """sqrt(aggregate(embedding, CAST(0 AS DOUBLE),
               (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"""))
        .select($"vec_id",
          expr("""array_join(transform(pre,
                    x -> CAST(CAST(round(CAST(x AS DOUBLE) / nrm, 6)
                                   AS DECIMAL(12, 6)) AS STRING)),
                  '|')""").as("unit_prefix"),
          // energy retained by the prefix: ‖pre‖²/‖full‖²
          round(($"nrm" * $"nrm") / ($"full_nrm" * $"full_nrm"), 6)
            .as("energy_kept"))
        .orderBy($"vec_id")
    }, Some("""
      SELECT vec_id,
             array_to_string(list_transform(pre,
               x -> CAST(CAST(round(CAST(x AS DOUBLE) / nrm, 6)
                              AS DECIMAL(12, 6)) AS VARCHAR)),
               '|') AS unit_prefix,
             round((nrm * nrm) / (full_nrm * full_nrm), 6) AS energy_kept
      FROM (
        SELECT vec_id, pre,
               sqrt(list_sum(list_transform(pre,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
               sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS full_nrm
        FROM (SELECT vec_id, embedding, embedding[1:8] AS pre
              FROM embeddings WHERE vec_id % 50 = 0))
      ORDER BY vec_id""")),

    // Binary-sign embedding codes + Hamming top-k (binary passage
    // retrieval, public technique): each 64-dim vector binarizes to
    // sign bits packed into TWO 32-bit halves (one 64-bit word would
    // overflow ANSI long arithmetic at the top bit), distance =
    // bit_count(xor) — integer-exact, so the DuckDB twin matches
    // bit-for-bit. Probes are a CONSTANT 3-vector set broadcast
    // against the corpus (the ANN scale rule: candidates never come
    // from an unbounded cross join); top-5 per probe via a window
    // PARTITIONED BY probe id.
    QDef("pipe_ann_hamming", (s, dir) => {
      import s.implicits._
      val codes = Tables(s, dir, "embeddings")
        .selectExpr("vec_id",
          """aggregate(sequence(0, 31), CAST(0 AS BIGINT),
               (acc, i) -> acc * 2 + IF(element_at(embedding, i + 1) > 0,
                 CAST(1 AS BIGINT), CAST(0 AS BIGINT))) AS c1""",
          """aggregate(sequence(32, 63), CAST(0 AS BIGINT),
               (acc, i) -> acc * 2 + IF(element_at(embedding, i + 1) > 0,
                 CAST(1 AS BIGINT), CAST(0 AS BIGINT))) AS c2""")
      val probes = codes.filter($"vec_id".isin(7L, 123L, 321L))
        .select($"vec_id".as("qid"), $"c1".as("q1"), $"c2".as("q2"))
      codes.crossJoin(broadcast(probes))
        .filter($"vec_id" =!= $"qid")
        .withColumn("ham", expr(
          "bit_count(c1 ^ q1) + bit_count(c2 ^ q2)"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"qid")
            .orderBy($"ham", $"vec_id")))
        .filter($"rnk" <= 5)
        .select($"qid", $"rnk", $"vec_id", $"ham".cast("long").as("ham"))
        .orderBy($"qid", $"rnk")
    }, Some("""
      WITH codes AS (
        SELECT vec_id,
               list_sum([CASE WHEN embedding[i] > 0
                              THEN (CAST(1 AS BIGINT) << (32 - i))
                              ELSE 0 END FOR i IN range(1, 33)]) AS c1,
               list_sum([CASE WHEN embedding[i + 32] > 0
                              THEN (CAST(1 AS BIGINT) << (32 - i))
                              ELSE 0 END FOR i IN range(1, 33)]) AS c2
        FROM embeddings),
      probes AS (SELECT vec_id AS qid, c1 AS q1, c2 AS q2 FROM codes
                 WHERE vec_id IN (7, 123, 321)),
      dist AS (SELECT p.qid, c.vec_id,
                      bit_count(xor(c.c1, p.q1)) +
                        bit_count(xor(c.c2, p.q2)) AS ham
               FROM codes c CROSS JOIN probes p WHERE c.vec_id != p.qid),
      r AS (SELECT qid, vec_id, ham,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY ham, vec_id) AS rnk
            FROM dist)
      SELECT qid, rnk, vec_id, CAST(ham AS BIGINT) AS ham
      FROM r WHERE rnk <= 5 ORDER BY qid, rnk""")),

    QDef("pipe_embed_quantize", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "embeddings")
        .filter($"vec_id" % 50 === 0)
        .withColumn("s",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0"))
        .withColumn("q",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / s) AS INT))"))
        .select($"vec_id",
          round($"s", 9).as("scale"),
          expr("array_join(q, '|')").as("q"),
          round(expr("""aggregate(zip_with(embedding, q,
                          (x, qi) -> (CAST(x AS DOUBLE) - qi * s) * (CAST(x AS DOUBLE) - qi * s)),
                        CAST(0 AS DOUBLE), (a, v) -> a + v) / size(embedding)"""), 9)
            .as("mse"))
        .orderBy($"vec_id")
    }, Some("""
      SELECT vec_id, round(s, 9) AS scale,
             array_to_string(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / s) AS INT)), '|') AS q,
             round(list_sum(list_transform(embedding,
               x -> (CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / s) * s)
                  * (CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / s) * s)))
               / len(embedding), 9) AS mse
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
            FROM embeddings WHERE vec_id % 50 = 0)
      ORDER BY vec_id""")),

    QDef("pipe_embed_neardup", (s, dir) => {
      import s.implicits._
      GraftFunctions.register(s)
      val base = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      val planted = base.filter($"vec_id" % 5 === 0)
        .select(($"vec_id" + 100000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * 1.5 AS FLOAT))").as("embedding"))
      // the bucketed corpus feeds both self-join sides — materialize
      // the 512-term bucket expression once (DISK_ONLY keeps lineage:
      // a lost executor recomputes instead of killing the job)
      val corpus = base.unionByName(planted)
        .withColumn("bucket", expr(Vectors.bucketSparkSql("embedding", 8, 64)))
        .persist(StorageLevel.DISK_ONLY)
      val a = corpus.select($"bucket", $"vec_id".as("i"), $"embedding".as("va"))
      val b = corpus.select($"bucket", $"vec_id".as("j"), $"embedding".as("vb"))
      a.join(b, Seq("bucket")).filter($"i" < $"j")
        .withColumn("sim", expr("cosine_sim(va, vb)"))
        .filter($"sim" >= 0.98)
        .select($"i", $"j", round($"sim", 4).as("sim"))
        .orderBy($"i", $"j")
    }, Some("""
      WITH base AS (SELECT vec_id, embedding FROM embeddings),
      planted AS (SELECT vec_id + 100000 AS vec_id,
                         list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT))
                           AS embedding
                  FROM base WHERE vec_id % 5 = 0),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      p AS (SELECT a.vec_id AS i, b.vec_id AS j,
                   list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]) AS sim
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
      SELECT i, j, round(sim, 4) AS sim FROM p WHERE sim >= 0.98
      ORDER BY i, j""")),

    // Per-label embedding centroids (first 8 dims): posexplode →
    // exact decimal mean per (label, dim) — one shuffle, element-wise
    // array aggregation at any scale.
    QDef("pipe_embed_centroid", (s, dir) => {
      import s.implicits._
      Tables(s, dir, "embeddings")
        .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .filter($"pos" < 8)
        .groupBy($"label", $"pos")
        .agg(round((sum($"v".cast("double").cast("decimal(22,9)")).cast("double") /
          count(lit(1))), 4).as("centroid"))
        .orderBy($"label", $"pos")
    }, Some("""
      SELECT label, pos, round(CAST(sum(CAST(v::DOUBLE AS DECIMAL(22,9))) AS DOUBLE)
                               / count(*), 4) AS centroid
      FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                   unnest(embedding) AS v
            FROM embeddings)
      WHERE pos < 8 GROUP BY label, pos ORDER BY label, pos"""))
  )

  def defs: Seq[QDef] = textDefs ++ vectorDefs :+ curationDef
}
