package graft

import graft.ops.{Graphs, Vectors}
import graft.plans.Projections
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.min
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Two sessions in one JVM neither share nor leak state — cached
  * frames, the query log, table metadata, dictionaries, projections
  * and pinned results: s1 is the shared test session over sf0.001, s2
  * a second session of the same SparkContext over sf0.01. The release
  * is called directly because the test JVM never stops its one
  * context.
  */
class TwoSessionSpec extends AnyFunSuite {
  private val small = "/root/testdata/sf0.001"
  private val big = "/root/testdata/sf0.01"
  private lazy val s1 = TestSpark.spark
  private lazy val s2 = {
    val s = s1.newSession()
    Graft.init(s, big)
    s
  }
  private val cachedCount =
    "SELECT count(*) AS n FROM lineitem SETTINGS use_query_cache = 1"

  private def ivf(s: SparkSession) =
    Vectors.ivfIndexCached(Tables(s, small, "embeddings"), small,
      "embedding", 8, 42L)._1

  test("use_query_cache returns each session's own count") {
    Graft.init(s1, small)
    Graft.sql(s1, "SYSTEM DROP QUERY CACHE").collect()
    val n1 = Graft.sql(s1, cachedCount).head().getLong(0)
    val n2 = Graft.sql(s2, cachedCount).head().getLong(0)
    assert(n1 == Tables(s1, small, "lineitem").count())
    assert(n2 == Tables(s2, big, "lineitem").count())
    assert(n1 != n2)
  }

  test("ivfIndexCached over the same dir returns the caller's session's frame") {
    assert(ivf(s1).sparkSession eq s1)
    assert(ivf(s2).sparkSession eq s2)
  }

  private def fails(s: SparkSession, q: String, msg: String): Unit = {
    val e = intercept[Exception](Graft.sql(s, q).collect())
    assert(e.getMessage.contains(msg), e.getMessage)
  }

  test("system.query_log lists only the session's own statements") {
    val mark = s"SELECT 'two_session_log_${System.nanoTime}' AS m"
    Graft.sql(s1, mark).collect()
    def logged(s: SparkSession) = Graft.sql(s, "SELECT query FROM system.query_log")
      .collect().map(_.getString(0)).toSet
    assert(logged(s1).contains(mark))
    assert(!logged(s2).contains(mark))
  }

  test("a FINAL collapse created in one session does not apply in another") {
    Graft.sql(s1, """CREATE TABLE ts_fin ENGINE = ReplacingMergeTree(v)
      ORDER BY (k) AS SELECT 1 AS k, 1 AS v UNION ALL SELECT 1 AS k, 2 AS v""")
    assert(Graft.sql(s1, "SELECT * FROM ts_fin FINAL").count() == 1)
    s2.range(2).selectExpr("1 AS k", "id AS v").createOrReplaceTempView("ts_fin")
    try fails(s2, "SELECT * FROM ts_fin FINAL", "FINAL needs engine key metadata")
    finally {
      s2.catalog.dropTempView("ts_fin")
      Graft.sql(s1, "DROP TABLE ts_fin")
    }
  }

  test("a SAMPLE BY key created in one session is not another's") {
    Graft.sql(s1, """CREATE TABLE ts_smp ENGINE = MergeTree ORDER BY k
      SAMPLE BY k AS SELECT r_regionkey AS k FROM region""")
    assert(Graft.sql(s1, "SELECT count(*) AS n FROM ts_smp SAMPLE 1")
      .head().getLong(0) == 5)
    s2.range(10).selectExpr("id AS k").createOrReplaceTempView("ts_smp")
    try fails(s2, "SELECT count(*) AS n FROM ts_smp SAMPLE 0.5", "no sampling key")
    finally {
      s2.catalog.dropTempView("ts_smp")
      Graft.sql(s1, "DROP TABLE ts_smp")
    }
  }

  test("a dictionary created in one session is unknown to another") {
    Graft.sql(s1, "CREATE DICTIONARY ts_dict (r_regionkey Int64, r_name String) " +
      "PRIMARY KEY r_regionkey SOURCE(CLICKHOUSE(TABLE 'region')) " +
      "LAYOUT(FLAT()) LIFETIME(300)")
    val get = "SELECT dictGet('ts_dict', 'r_name', 0) AS x"
    try {
      assert(Graft.sql(s1, get).head().getString(0) == "AFRICA")
      fails(s2, get, "unknown dictionary")
    } finally Graft.sql(s1, "DROP DICTIONARY ts_dict")
  }

  test("a projection materialized in one session answers only its queries") {
    val base = s"$small/orders.parquet"
    Projections.materialize(s1, "ts_proj", base,
      s"${System.getProperty("java.io.tmpdir")}/graft_two_session_proj",
      Seq("o_orderpriority"),
      Seq(Projections.Measure("min", "o_custkey", "ts_min_cust")))
    def plan(s: SparkSession) = {
      Projections.install(s)
      s.read.parquet(base).groupBy("o_orderpriority").agg(min("o_custkey"))
        .queryExecution.optimizedPlan.toString
    }
    assert(plan(s1).contains("ts_min_cust"))
    assert(!plan(s2).contains("ts_min_cust"))
  }

  /** Persisted RDD ids a Long-keyed connected-components call leaves:
    * its pinned result.
    */
  private def ccPinned(s: SparkSession, id: Long): Set[Int] = {
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    Graphs.connectedComponents(Seq((id, id + 1)).toDF("a", "b"), "a", "b").count()
    s.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("connected-components pins are per session; release unpersists them") {
    val s3 = s1.newSession()
    // eight results fill s1's pins; s3's first result must evict none
    val pinned1 = (1 to 8).flatMap(i => ccPinned(s1, 10L * i)).toSet
    val pinned3 = ccPinned(s3, 1000L)
    assert(pinned1.size == 8 && pinned3.size == 1)
    def live = s1.sparkContext.getPersistentRDDs.keySet
    assert(pinned1.subsetOf(live), "a result of s3 unpersisted a pin of s1")
    assert(pinned3.subsetOf(live))
    SessionCache.release(s3)
    assert((pinned3 & live).isEmpty)
    assert(pinned1.subsetOf(live))
  }

  test("release frees s2's frames and state; s1's entries still hit") {
    val q2 = Graft.sql(s2, cachedCount)
    val a2 = ivf(s2)
    assert(q2.storageLevel != StorageLevel.NONE)
    assert(a2.storageLevel != StorageLevel.NONE)
    // s1 persists the same fixture frame as s2; Spark shares one cache
    // entry between them, which releasing s2 must leave alone
    val shared = Tables(s1, big, "lineitem")
    assert(shared.storageLevel != StorageLevel.NONE)
    val c1 = SessionCache(s1)
    val before = (c1.builds("query"), c1.builds("ivf"))

    SessionCache.release(s2)
    assert(!SessionCache.holds(s2))
    assert(q2.storageLevel == StorageLevel.NONE)
    assert(a2.storageLevel == StorageLevel.NONE)
    assert(shared.storageLevel != StorageLevel.NONE)

    val q1 = Graft.sql(s1, cachedCount)
    val a1 = ivf(s1)
    assert((c1.builds("query"), c1.builds("ivf")) == before)
    assert(q1.storageLevel != StorageLevel.NONE)
    assert(a1.storageLevel != StorageLevel.NONE)
  }
}
