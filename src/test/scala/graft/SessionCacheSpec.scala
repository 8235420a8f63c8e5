package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The per-session cache behind every cross-query cache site:
  * eviction must actually UNPERSIST what it drops — the point of a
  * bound is that persists stop accumulating on long-lived sessions —
  * and a hot key must never rebuild.
  */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("eviction unpersists the eldest entry; hot keys never rebuild") {
    // a fresh session, so filling its cache evicts nothing shared
    val s = spark.newSession()
    import s.implicits._
    val cache = SessionCache(s)
    def mk(i: Int) = {
      // distinct plans per key — CacheManager keys cache entries by
      // plan, so identical frames would share one entry
      val df = Seq.tabulate(4)(j => (i, j)).toDF("k", "v")
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize so storageLevel reflects a real cache
      df
    }
    val d1 = cache.getOrBuild("t", 1)(mk(1))
    val d2 = cache.getOrBuild("t", 2)(mk(2))
    assert(cache.builds("t") == 2)

    // hot hit: no rebuild, no eviction
    assert(cache.getOrBuild("t", 1)(mk(1)) eq d1)
    assert(cache.builds("t") == 2)
    assert(d1.storageLevel != StorageLevel.NONE)

    // fill the cache to its cap; the next insert evicts the LRU entry
    // — key 2 (key 1 was touched last) — and unpersists it
    (3 to SessionCache.Cap).foreach(i => cache.getOrBuild("filler", i)(i))
    assert(cache.size == SessionCache.Cap)
    val d3 = cache.getOrBuild("t", 3)(mk(3))
    assert(cache.size == SessionCache.Cap)
    assert(d2.storageLevel == StorageLevel.NONE,
      "evicted frame must be unpersisted")
    assert(d1.storageLevel != StorageLevel.NONE)
    assert(d3.storageLevel != StorageLevel.NONE)

    // the evicted key rebuilds on next access (observable via builds)
    val d2b = cache.getOrBuild("t", 2)(mk(2))
    assert(cache.builds("t") == 4)
    SessionCache.release(s)
    Seq(d1, d2b, d3).foreach(d => assert(d.storageLevel == StorageLevel.NONE))
  }

  test("the three CC gate entries share ONE confirmed-pairs build") {
    val dir = "/root/testdata/sf0.001"
    val before = SessionCache(spark).builds("lshPairs")
    for (q <- Seq("pipe_dedup_components", "pipe_dedup_components_star",
        "pipe_dedup_canonical")) {
      SparkEntry.queries(q)(spark, dir).collect()
    }
    val built = SessionCache(spark).builds("lshPairs") - before
    assert(built <= 1, // 0 if another suite already warmed this dir
      s"expected one shared pairs build for the CC family, saw $built")
  }

  test("a registration runs once, and again after a failed attempt") {
    val cache = SessionCache(spark.newSession())
    var runs = 0
    intercept[IllegalStateException] {
      cache.once("r") { runs += 1; throw new IllegalStateException("boom") }
    }
    cache.once("r") { runs += 1 }
    cache.once("r") { runs += 1 }
    assert(runs == 2)
  }

  test("ivf dynOracle inlines centroids and round-trips doubles exactly") {
    import graft.ops.Vectors
    // duckDouble must parse back to the exact same double in DuckDB's
    // lexer class (E-notation → DOUBLE); spot-check repr shapes
    assert(Vectors.duckDouble(0.1) == "0.1e0")
    assert(Vectors.duckDouble(1.0e-7) == "1.0E-7")
    assert(Vectors.duckDouble(-0.0) == "-0.0e0")
    // the oracle builder produces SQL with the literal matrix when a
    // session is alive (it may build the index on demand)
    graft.functions.GraftFunctions.register(spark)
    val sql = Vectors.ivfOracleSql()
    assert(sql.nonEmpty)
    assert(sql.get.contains("::DOUBLE[][]"))
    assert(sql.get.contains("list_position"))
  }
}
