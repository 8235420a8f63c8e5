package graft

import graft.ops.Graphs
import org.scalatest.funsuite.AnyFunSuite

/** Connected components (ops/Graphs) vs a local union-find reference
  * on fixed shapes and seeded random graphs (SURVEY §2 pipeline ops:
  * near-dup clusters).
  */
class GraphsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Local union-find ground truth: node -> min id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graphs.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def runStar(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graphs.connectedComponentsStar(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, clique, and singletons-by-edge") {
    // 1-2-3-4 chain, {10,11,12} triangle, isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L))
    assert(run(edges) == unionFind(edges))
    assert(runStar(edges) == unionFind(edges))
  }

  test("long chain needs multiple propagation rounds") {
    val edges = (1L until 15L).map(i => (i + 1, i))
    val got = run(edges)
    assert(got == unionFind(edges))
    assert(got.values.toSet == Set(1L))
    assert(runStar(edges) == got)
  }

  test("seeded random graphs match union-find (both algorithms)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val truth = unionFind(edges)
      assert(run(edges) == truth)
      assert(runStar(edges) == truth)
    }
  }

  test("adversarial chain: star-contraction converges where propagation's" +
      " round budget can't") {
    // path graph of diameter 800 — min-label propagation moves the
    // label one hop per round, so maxIter=20 CANNOT converge it, while
    // star-contraction needs O(log² n) rounds
    val n = 800L
    val edges = (1L until n).map(i => (i + 1, i))
    val star = runStar(edges)
    assert(star.size == n)
    assert(star.values.toSet == Set(1L), "star must fully contract the chain")
    // negative control: propagation at the default 20-round budget
    // leaves far labels unpropagated (this is WHY the star variant
    // exists — Graphs scaladoc / round-16 verdict task 4)
    val prop = Graphs.connectedComponents(
      edges.toDF("a", "b"), "a", "b", maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop.values.toSet != Set(1L),
      "propagation unexpectedly converged a diameter-800 path in 20 rounds")
  }

  test("star-contraction refuses loudly when maxIter is too small") {
    val edges = (1L until 100L).map(i => (i + 1, i))
    val e = intercept[IllegalArgumentException](
      Graphs.connectedComponentsStar(edges.toDF("a", "b"), "a", "b",
        maxIter = 1).collect())
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("generic DataFrame path (non-Long ids) matches the Long fast path") {
    // r19: Long-typed edges dispatch to the pair-RDD fast path; INT
    // ids keep the generic Catalyst loop alive and pin that both
    // paths compute the same labels on the same graphs.
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val truth = unionFind(edges)
    val intDf = edges.toDF("a", "b")
      .selectExpr("CAST(a AS INT) AS a", "CAST(b AS INT) AS b")
    val gotProp = Graphs.connectedComponents(intDf, "a", "b")
      .collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
    val gotStar = Graphs.connectedComponentsStar(intDf, "a", "b")
      .collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
    assert(gotProp == truth)
    assert(gotStar == truth)
    assert(run(edges) == truth)     // Long fast path, propagation
    assert(runStar(edges) == truth) // Long fast path, star
  }

  test("fast path handles self-loops and null edges") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 3L))
    assert(run(edges) == Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    val withNull = spark.sql(
      "SELECT * FROM VALUES (1L, 2L), (CAST(NULL AS BIGINT), 9L), (2L, 3L) t(a, b)")
    val got = Graphs.connectedComponents(withNull, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("maxIter bound still returns a label per node") {
    val edges = (1L until 10L).map(i => (i + 1, i))
    val out = Graphs.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIter = 2)
    assert(out.count() == 10)
  }

  test("each eviction from the 8 result pins logs one WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val logger = LogManager.getLogger(Graphs.getClass.getName).asInstanceOf[Logger]
    val warns = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("graphs-pins", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN &&
            e.getMessage.getFormattedMessage.contains("recomputes every propagation round"))
          warns.incrementAndGet()
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      // nine live results overflow the 8 pins whatever other suites left
      (1 to 9).foreach(i => run(Seq((i.toLong, i + 100L))))
      val afterFull = warns.get()
      assert(afterFull >= 1)
      run(Seq((1L, 2L)))
      assert(warns.get() == afterFull + 1)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }
}
