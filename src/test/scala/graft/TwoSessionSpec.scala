package graft

import graft.ops.Vectors
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Two sessions in one JVM neither share nor leak cached state: s1 is
  * the shared test session over sf0.001, s2 a second session of the
  * same SparkContext over sf0.01. The release is called directly
  * because the test JVM never stops its one context.
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

  private def ivf(s: org.apache.spark.sql.SparkSession) =
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
