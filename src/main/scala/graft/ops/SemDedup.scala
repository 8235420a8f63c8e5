package graft.ops

import graft.Det
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameters of the semantic-dedup operator ([[SemDedup]]) — the
  * knobs a 100-TB deployment must be able to turn (r18 verdict task 1;
  * STRESS.md's fixed-band analysis: spurious band collisions grow as
  * n² / 2^bitsPerBand, so corpus scale dictates band width — at web
  * scale 24–32-bit bands, not the 16-bit demo default).
  *
  *  - `shingleN`: word-shingle size feeding the feature hash.
  *  - `dims`: feature-hash embedding dimensionality.
  *  - `bands` × `bitsPerBand`: hyperplane-LSH geometry. Recall for a
  *    pair at cosine c is 1 − (1 − a^bitsPerBand)^bands with
  *    a = 1 − acos(c)/π — bands buy recall, bits cut collisions.
  *  - `simThreshold`: confirmed-pair cosine cutoff.
  *  - `cap` / `saltHotBuckets`: the [[Text.selfJoinPairs]] hot-bucket
  *    policy (loud refusal by default; triangle salting as the
  *    explicit escape hatch).
  */
case class SemDedupParams(
    shingleN: Int = 3,
    dims: Int = 64,
    bands: Int = 4,
    bitsPerBand: Int = 16,
    simThreshold: Double = 0.6,
    cap: Int = 10000,
    saltHotBuckets: Int = 0) {
  require(shingleN >= 1 && shingleN <= 16, s"shingleN $shingleN out of 1..16")
  require(dims >= 1 && dims <= 4096, s"dims $dims out of 1..4096")
  require(bands >= 1 && bands <= 64, s"bands $bands out of 1..64")
  require(bitsPerBand >= 1 && bitsPerBand <= 62,
    s"bitsPerBand $bitsPerBand out of 1..62 (band keys pack into a BIGINT)")
  require(simThreshold > 0.0 && simThreshold <= 1.0,
    s"simThreshold $simThreshold out of (0, 1]")
  require(cap > 0, s"cap $cap must be positive")

  /** Hyperplane count — one sign bit per plane. */
  def nPlanes: Int = bands * bitsPerBand
}

/** Semantic dedup (the SemDeDup shape) as a parameterized library
  * operator: embed → banded hyperplane-LSH candidates → cosine
  * confirmation → connected-component clusters → DECIMAL-exact medoid
  * keep. Promoted from pipe_semdedup's query-local helpers (r18
  * verdict task 1) with IDENTICAL values at the default parameters.
  *
  * Scale shape (the 100-TB contract):
  *  - [[featureVecs]] is a per-row projection — one md5 pair per
  *    shingle, one O(dims) fold and one dims×nPlanes dot kernel per
  *    document, all inside WholeStageCodegen
  *    ([[graft.functions.SignedFeatureFold]] /
  *    [[graft.functions.HyperplaneDots]]);
  *  - candidates are a band-key equi self-join ([[Text.selfJoinPairs]]
  *    — hot buckets refuse loudly or triangle-salt, NEVER all-pairs);
  *  - spurious band collisions grow n²/2^bitsPerBand — `bitsPerBand`
  *    is the knob that keeps the candidate set linear as the corpus
  *    grows (STRESS.md semdedup rungs measure 16- vs 24-bit bands);
  *  - clustering is [[Graphs.connectedComponents]] (lineage-flat,
  *    diameter-proof via star-contraction where needed).
  *
  * Determinism: every hash is md5-derived and every vector component
  * an exact small integer in a double, so a DuckDB oracle re-derives
  * the ENTIRE chain from scratch ([[oracleSql]]); only the final
  * cosine needs the shared round-to-6 guard.
  *
  * Composition contract: [[pairs]] is lazy — PERSIST it before
  * [[clusters]] (connected components iterates over the edge frame).
  */
object SemDedup {

  /** Feature-hash embeddings with hyperplane dots:
    * (idCol, v array<float>, dots array<double>).
    */
  def featureVecs(docs: DataFrame, idCol: String, textCol: String,
                  p: SemDedupParams = SemDedupParams()): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__sh",
        array_distinct(Text.shingles(Text.tokens(col(textCol)), p.shingleN)))
      .withColumn("__v", expr(s"signed_feature_fold(__sh, ${p.dims})"))
      .select(col(idCol),
        col("__v").cast("array<float>").as("v"),
        expr(s"hyperplane_dots(__v, ${p.nPlanes})").as("dots"))
  }

  /** Band keys of a [[featureVecs]] frame, exploded: (idCol, bk).
    * Key text "band:packedBits" — one BIGINT per band, bit q set iff
    * dot (band·bitsPerBand + q) is positive.
    */
  def bandKeys(vecs: DataFrame, idCol: String,
               p: SemDedupParams = SemDedupParams()): DataFrame =
    vecs.select(col(idCol), explodedBandKeys(p))

  // The key array is built inside the Generate: computed in a Project
  // instead, Catalyst inlines the whole embedding chain into the
  // not-null filter it infers for the band join.
  private def explodedBandKeys(p: SemDedupParams) = explode(expr(
    s"""transform(sequence(0, ${p.bands - 1}), b -> concat(CAST(b AS STRING), ':',
       |  CAST(aggregate(sequence(0, ${p.bitsPerBand - 1}), 0L, (acc, q) ->
       |    acc + CASE WHEN element_at(dots, b * ${p.bitsPerBand} + q + 1) > 0
       |               THEN shiftleft(1L, q) ELSE 0L END) AS STRING)))"""
      .stripMargin)).as("bk")

  /** Confirmed near-dup pairs (a_id, b_id, sim) from a [[featureVecs]]
    * frame: banded candidates under the hot-bucket policy, confirmed
    * at rounded cosine ≥ simThreshold. NaN cosines (zero vectors —
    * empty-shingle documents) are dropped by CONSTRUCTION: DuckDB's
    * list_cosine_similarity returns −1.0 where Spark yields NaN, so
    * both engines must exclude such pairs structurally.
    *
    * The vectors ride the band self-join as payload, so each
    * embedding is derived once, with no join back on the ids; a pair
    * sharing several bands is confirmed once per band and its
    * identical rows collapse after the threshold.
    *
    * Lazy — persist the result before iterating (CC) over it.
    */
  def pairsFromVecs(vecs: DataFrame, idCol: String,
                    p: SemDedupParams = SemDedupParams()): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    Text.selfJoinPairs(vecs.select(col(idCol), col("v"), explodedBandKeys(p)),
        "bk", idCol, p.cap, p.saltHotBuckets, payload = Seq("v"))
      .withColumn("sim", round(expr("cosine_sim(a_v, b_v)"), 6))
      .filter(col("sim") >= p.simThreshold && !isnan(col("sim")))
      .select(col("a_id"), col("b_id"), col("sim"))
      .distinct()
  }

  /** [[pairsFromVecs]] straight from a documents frame. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
            p: SemDedupParams = SemDedupParams()): DataFrame =
    pairsFromVecs(featureVecs(docs, idCol, textCol, p), idCol, p)

  /** Clusters with the medoid keep over a (persisted) confirmed-pair
    * frame: (component, n_members, keep_id, keep_w) — keep_id is the
    * member with the largest DECIMAL-exact sum of incident confirmed
    * cosines (ties → smallest id), keep_w that sum.
    */
  def clusters(confirmedPairs: DataFrame): DataFrame = {
    val cc = Graphs.connectedComponents(
      confirmedPairs.select(col("a_id"), col("b_id")), "a_id", "b_id")
    val wts = confirmedPairs.select(col("a_id").as("id"), col("sim"))
      .unionByName(confirmedPairs.select(col("b_id").as("id"), col("sim")))
      .groupBy(col("id")).agg(Det.dsum(col("sim")).as("w"))
    val win = Window.partitionBy(col("component"))
      .orderBy(col("w").desc, col("id").asc)
    cc.join(wts, "id")
      .withColumn("rk", row_number().over(win))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("id"))).as("keep_id"),
        max(when(col("rk") === 1, col("w"))).as("keep_w"))
      .orderBy(col("component"))
  }

  /** DuckDB oracle re-deriving the whole chain from scratch for a
    * space-tokenized `table(idCol, textCol)` — feature hash, literal
    * plane table + list_inner_product, band bit-packing, recursive-CTE
    * connected components, medoid ranking. Parameterized exactly like
    * the Spark chain so gate entries at ANY band geometry stay
    * hash-checked. Note `saltHotBuckets`/`cap` do not appear: the pair
    * SET is policy-independent (GuardedLshSpec), which is what makes
    * the salted hatch oracle-safe.
    */
  def oracleSql(table: String, idCol: String, textCol: String,
                p: SemDedupParams = SemDedupParams()): String = s"""
      WITH RECURSIVE d0 AS (
        SELECT $idCol AS doc_id, string_split($textCol, ' ') AS toks FROM $table),
      shx AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(toks) - ${p.shingleN - 2}, 1)),
                 i -> array_to_string(toks[i:i+${p.shingleN - 1}], ' ')))) AS s
        FROM d0),
      feat AS (
        SELECT doc_id,
               CAST('0x' || substring(md5('fh|' || s), 1, 15) AS BIGINT) % ${p.dims} AS idx,
               CAST(sum(CASE WHEN CAST('0x' || substring(md5('fs|' || s), 1, 15) AS BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END) AS DOUBLE) AS val
        FROM shx GROUP BY doc_id, idx),
      vec AS (
        SELECT doc_id,
               list_transform(range(0, ${p.dims}), i -> coalesce(map_extract(m, i)[1], 0.0)) AS v
        FROM (SELECT doc_id, map(list(idx ORDER BY idx), list(val ORDER BY idx)) AS m
              FROM feat GROUP BY doc_id)),
      pl AS (SELECT p, (${Vectors.planesDuckSql(p.nPlanes, p.dims)})[p + 1] AS pvec
             FROM range(0, ${p.nPlanes}) t(p)),
      dots AS (
        SELECT doc_id, p, list_inner_product(pvec, v) AS dot
        FROM vec CROSS JOIN pl),
      bands AS (
        SELECT doc_id, (p // ${p.bitsPerBand}) || ':' ||
               CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << (p % ${p.bitsPerBand})) ELSE 0 END) AS BIGINT) AS bk
        FROM dots GROUP BY doc_id, p // ${p.bitsPerBand}),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT doc_a, doc_b, round(list_cosine_similarity(x.v, y.v), 6) AS sim
        FROM cand JOIN vec x ON cand.doc_a = x.doc_id
                  JOIN vec y ON cand.doc_b = y.doc_id
        WHERE round(list_cosine_similarity(x.v, y.v), 6) >= ${p.simThreshold}),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      reach(id, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      wts AS (SELECT id, ${Det.sqlSum("sim")} AS w
              FROM (SELECT doc_a AS id, sim FROM pairs
                    UNION ALL SELECT doc_b, sim FROM pairs) GROUP BY id),
      ranked AS (
        SELECT comp.component, comp.id, wts.w,
               row_number() OVER (PARTITION BY comp.component
                                  ORDER BY wts.w DESC, comp.id) AS rk
        FROM comp JOIN wts ON comp.id = wts.id)
      SELECT component, count(*) AS n_members,
             CAST(max(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS keep_id,
             max(CASE WHEN rk = 1 THEN w END) AS keep_w
      FROM ranked GROUP BY component ORDER BY component"""
}
