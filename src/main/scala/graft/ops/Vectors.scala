package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector-search primitives for the `embeddings` fixture (BASELINE
  * north star: similarity search). The scale story:
  *
  *  - brute-force exact top-k (the baseline) broadcasts a SMALL query
  *    set against the corpus — each corpus partition scores locally,
  *    one shuffle on query id for the per-query top-k window;
  *  - hyperplane LSH (the scale path) assigns every vector an n-bit
  *    bucket from sign(plane · v); probes equi-join their bucket —
  *    candidate generation is a hash join, never all-pairs.
  *
  * The hyperplanes are md5-seeded ±1 vectors generated here ONCE and
  * inlined as literals into both the Spark expression and the DuckDB
  * oracle, so both engines use identical planes.
  */
object Vectors {

  /** Deterministic ±1 hyperplane matrix: component (p, d) is +1 iff
    * the 60-bit md5 hash of "p,d" is even — reproducible anywhere.
    */
  def planeMatrix(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (1 to dim).map { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$p,$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0 else -1.0
      }
    }

  /** SQL literal text of [[planeMatrix]] — `array(array(1.0,...),...)`
    * for Spark, `[[1.0,...],...]` for DuckDB.
    */
  def planesSparkSql(nPlanes: Int, dim: Int): String =
    planeMatrix(nPlanes, dim)
      .map(_.mkString("array(", ",", ")")).mkString("array(", ",", ")")

  def planesDuckSql(nPlanes: Int, dim: Int): String =
    planeMatrix(nPlanes, dim)
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Spark SQL expression computing the LSH bucket of `vecCol`:
    * bit p = (plane_p · v > 0), folded to a BIGINT. The inner dot is
    * an ascending-index sequential fold, matching DuckDB list_sum.
    */
  def bucketSparkSql(vecCol: String, nPlanes: Int, dim: Int): String = {
    val planes = planesSparkSql(nPlanes, dim)
    s"""aggregate(sequence(0, ${nPlanes - 1}), 0L, (acc, p) -> acc +
       |  CASE WHEN aggregate(sequence(1, $dim), CAST(0.0 AS DOUBLE),
       |         (a, d) -> a + element_at(element_at($planes, p + 1), d)
       |                       * CAST(element_at($vecCol, d) AS DOUBLE)) > 0
       |       THEN shiftleft(1L, p) ELSE 0L END)""".stripMargin
  }

  /** IVF index: k-means over the corpus (the one legitimate iterative
    * index-BUILD job — queries never iterate), then every vector
    * carries its nearest-centroid id as `cell`. An ANN probe searches
    * only its own cell's vectors (equi-join on `cell`), optionally
    * multi-probing neighbor cells for recall — same shuffle shape as
    * the LSH path, with data-adaptive cells instead of random planes.
    *
    * Returns (assignments with a `cell` column, centroid arrays by id).
    */
  def ivfIndex(emb: DataFrame, vecCol: String, k: Int, seed: Long)
      : (DataFrame, Array[Array[Double]]) = {
    val feat = emb.withColumn("__fv",
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__fv").setPredictionCol("cell")
      .fit(feat)
    (model.transform(feat).drop("__fv"), model.clusterCenters.map(_.toArray))
  }

  /** Key of the session's most recent [[ivfIndexCached]] build/lookup
    * — the pipe_ann_ivf dynOracle reads it at dump time to inline the
    * SAME centroids the gate query just used (Verify runs every query
    * before dumping oracle_sql.json).
    */
  private def lastIvfKey(spark: org.apache.spark.sql.SparkSession) =
    graft.SessionCache(spark).slot("ivf.last_key")(
      new java.util.concurrent.atomic.AtomicReference(Option.empty[(String, String, Int, Long)]))

  /** [[ivfIndex]] built once per (session, corpus key, column, k,
    * seed) and persisted — index BUILD is amortized across queries,
    * exactly how a production ANN index is used (queries never re-run
    * k-means). Held in the session's [[graft.SessionCache]] of `emb`.
    */
  def ivfIndexCached(emb: DataFrame, key: String, vecCol: String, k: Int, seed: Long)
      : (DataFrame, Array[Array[Double]]) = {
    val full = (key, vecCol, k, seed)
    lastIvfKey(emb.sparkSession).set(Some(full))
    graft.SessionCache(emb.sparkSession).getOrBuild("ivf", full) {
      val (a, c) = ivfIndex(emb, vecCol, k, seed)
      (a.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), c)
    }
  }

  /** Squared-L2 distances of `vec` to every literal centroid, as an
    * array column — the shared kernel of [[ivfCellCol]] and
    * [[ivfProbeCellsCol]]. Ascending-index sequential fold so Spark's
    * `aggregate` and DuckDB's `list_sum(list_transform(...))` produce
    * bit-identical doubles.
    */
  private def ivfDistsCol(vec: org.apache.spark.sql.Column,
                          cents: Seq[Seq[Double]])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val dim = cents.head.size
    val c = typedLit(cents)
    transform(c, ctr =>
      aggregate(sequence(lit(1), lit(dim)), lit(0.0d), (acc, d) => {
        val diff = element_at(ctr, d) - element_at(vec, d).cast("double")
        acc + diff * diff
      }))
  }

  /** Nearest-centroid cell from LITERAL centroids — the hash-checkable
    * assignment (round-16 verdict task 1b): squared-L2 argmin over the
    * centroid matrix with a first-minimum tie-break on centroid index
    * in both engines (array_position / list_position).
    */
  def ivfCellCol(vec: org.apache.spark.sql.Column, cents: Seq[Seq[Double]])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val dists = ivfDistsCol(vec, cents)
    (array_position(dists, array_min(dists)) - 1).cast("long")
  }

  /** The `nprobe` nearest cells of `vec` (r16 verdict task 6: the
    * documented multi-probe recall knob, now oracle-checkable): sort
    * the literal-centroid distances, map the nprobe smallest back to
    * centroid indices. First-occurrence `array_position` resolves
    * exact-tie distances to the SAME index on both engines (DuckDB
    * `list_position` twin) — a tied pair then yields a duplicate,
    * which `array_distinct`/`list_distinct` removes identically. The
    * probe set stays CONSTANT-size (nprobe cells per fixed demo
    * query), so the broadcast is O(1) in the corpus like single-probe.
    */
  def ivfProbeCellsCol(vec: org.apache.spark.sql.Column,
                       cents: Seq[Seq[Double]], nprobe: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(nprobe >= 1 && nprobe <= cents.size,
      s"ivfProbeCellsCol: nprobe $nprobe out of 1..${cents.size}")
    val dists = ivfDistsCol(vec, cents)
    array_distinct(transform(slice(array_sort(dists), 1, nprobe),
      d => (array_position(dists, d) - 1).cast("long")))
  }

  /** Double → DuckDB literal text that parses back to the EXACT same
    * double: Java's shortest round-trip repr, forced into DuckDB's
    * DOUBLE lexer class with an `e0` exponent (a plain decimal literal
    * would lex as DECIMAL, whose conversion to double can be off by an
    * ulp for long mantissas).
    */
  def duckDouble(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** DuckDB twin of [[ivfCellCol]] (emits `... AS cell` subexpressions
    * over a `dists` list column computed from the literal matrix).
    */
  def ivfDistsDuckSql(vecCol: String, cents: Seq[Seq[Double]]): String = {
    val dim = cents.head.size
    val mat = cents.map(_.map(duckDouble).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""list_transform($mat::DOUBLE[][], ctr ->
       |  list_sum(list_transform(range(1, ${dim + 1}), d ->
       |    (ctr[d] - $vecCol[d]::DOUBLE) * (ctr[d] - $vecCol[d]::DOUBLE))))""".stripMargin
  }

  /** dynOracle for pipe_ann_ivf: DuckDB SQL with the cached centroids
    * inlined as literals (the planes-as-literals pattern pipe_ann_lsh
    * uses, with data-derived constants). Returns None when no centroids
    * are available and none can be built (no active session) — the
    * entry then degrades to the driver's rows-only check instead of
    * failing the dump.
    */
  def ivfOracleSql(): Option[String] = ivfOracleSqlMp(1)

  /** Shared centroid lookup for the ivf dynOracles: the active
    * session's index for the most recent key, built on a miss (None —
    * degrading that entry only — without a session or on failure).
    */
  private def cachedCentroids(): Option[Seq[Seq[Double]]] = {
    val fallback =
      (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        "embedding", 8, 42L)
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap { s =>
        val key = lastIvfKey(s).get.getOrElse(fallback)
        try Some(ivfIndexCached(graft.Tables(s, key._1, "embeddings"),
          key._1, key._2, key._3, key._4)._2.toSeq.map(_.toSeq))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[oracle] ivf centroids unavailable for ${key._1}: " +
                e.getClass.getName + ": " + e.getMessage)
            None
        }
      }
  }

  /** dynOracle for pipe_ann_ivf_mp: the [[ivfOracleSql]] pattern with
    * each probe searching its `nprobe` nearest cells (list_sort +
    * list_position — the exact DuckDB twin of [[ivfProbeCellsCol]]).
    */
  def ivfOracleSqlMp(nprobe: Int): Option[String] =
    cachedCentroids().map { cs =>
      s"""
      WITH a0 AS (
        SELECT vec_id, embedding,
               ${ivfDistsDuckSql("embedding", cs)} AS dists
        FROM embeddings),
      a AS (SELECT vec_id, embedding,
                   CAST(list_position(dists, list_min(dists)) - 1 AS BIGINT) AS cell
            FROM a0),
      q AS (SELECT q_id, qv, unnest(pcells) AS cell FROM (
              SELECT vec_id AS q_id, embedding AS qv,
                     list_distinct(list_transform(list_sort(dists)[1:$nprobe],
                       d -> CAST(list_position(dists, d) - 1 AS BIGINT))) AS pcells
              FROM a0 WHERE vec_id < 8)),
      cand AS (SELECT q.q_id, a.vec_id,
                      list_cosine_similarity(q.qv::DOUBLE[], a.embedding::DOUBLE[]) AS sim
               FROM q JOIN a USING (cell) WHERE a.vec_id <> q.q_id),
      r AS (SELECT q_id, vec_id, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, vec_id) AS rank
            FROM cand)
      SELECT q_id, rank, vec_id, round(sim, 4) AS sim
      FROM r WHERE rank <= 3 ORDER BY q_id, rank"""
    }

  /** DuckDB twin of [[bucketSparkSql]]. */
  def bucketDuckSql(vecCol: String, nPlanes: Int, dim: Int): String = {
    val planes = planesDuckSql(nPlanes, dim)
    s"""CAST(list_sum(list_transform(range(0, $nPlanes), p ->
       |  CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
       |         d -> ($planes)[p + 1][d] * $vecCol[d]::DOUBLE)) > 0
       |       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT)""".stripMargin
  }
}
