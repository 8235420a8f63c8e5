package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** MergeTree parts behind the front door: an INSERT writes one new
  * immutable part holding only its block, readers scan every part,
  * and mutations, OPTIMIZE and an INSERT past [[ChSql.MaxParts]] merge
  * the parts into one.
  */
class PartsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sql(q: String) = Graft.sql(spark, q)
  private def parts(t: String): Long =
    sql(s"SELECT count(*) AS n FROM system.parts WHERE table = '$t'")
      .collect().head.getLong(0)
  private def keys(t: String): Seq[Long] =
    sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq

  test("each INSERT adds one part; OPTIMIZE and mutations merge them") {
    // an empty table holds no part with data
    sql("CREATE TABLE parts_t (k Int64, v String) ENGINE = MergeTree ORDER BY k")
    assert(parts("parts_t") == 0)
    sql("INSERT INTO parts_t VALUES (1, 'a'), (2, 'b')")
    assert(parts("parts_t") == 1)
    // the SELECT reads the table it inserts into: it sees the old parts
    sql("INSERT INTO parts_t SELECT k + 10 AS k, v FROM parts_t")
    assert(parts("parts_t") == 2)
    assert(keys("parts_t") == Seq(1L, 2L, 11L, 12L))
    sql("OPTIMIZE TABLE parts_t")
    assert(parts("parts_t") == 1)
    assert(keys("parts_t") == Seq(1L, 2L, 11L, 12L))
    sql("INSERT INTO parts_t VALUES (3, 'c')")
    assert(parts("parts_t") == 2)
    sql("ALTER TABLE parts_t DELETE WHERE k = 1")
    assert(parts("parts_t") == 1)
    sql("INSERT INTO parts_t VALUES (4, 'd')")
    sql("ALTER TABLE parts_t UPDATE v = 'z' WHERE k = 2")
    assert(parts("parts_t") == 1)
    assert(sql("SELECT k, v FROM parts_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "z"), (3L, "c"), (4L, "d"), (11L, "a"), (12L, "b")))
    sql("TRUNCATE TABLE parts_t")
    assert(parts("parts_t") == 0)
    // a block the optimizer proves empty adds no part
    sql("INSERT INTO parts_t SELECT k, v FROM parts_t WHERE false")
    assert(parts("parts_t") == 0 && keys("parts_t").isEmpty)
    sql("INSERT INTO parts_t VALUES (5, 'e')")
    assert(parts("parts_t") == 1 && keys("parts_t") == Seq(5L))
    sql("DROP TABLE parts_t")
  }

  test("reads after N inserts equal a replay of the inserts") {
    sql("CREATE TABLE parts_r (k Int64, g Int32, s Int64) ENGINE = MergeTree ORDER BY k")
    val rnd = new scala.util.Random(11)
    var replay = Vector.empty[(Long, Int, Long)]
    for (_ <- 1 to 7) {
      val batch = Seq.fill(1 + rnd.nextInt(5))(
        (rnd.nextInt(1000).toLong, rnd.nextInt(3), rnd.nextInt(100).toLong))
      sql("INSERT INTO parts_r VALUES " +
        batch.map { case (k, g, s) => s"($k, $g, $s)" }.mkString(", "))
      replay ++= batch
      val got = sql("SELECT k, g, s FROM parts_r").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(got.sorted == replay.sorted)
      assert(parts("parts_r") <= ChSql.MaxParts)
    }
    sql("DROP TABLE parts_r")
  }

  test("an INSERT past the part cap merges the parts into one") {
    sql("CREATE TABLE parts_cap (k Int64) ENGINE = MergeTree ORDER BY k")
    for (i <- 1 to ChSql.MaxParts) {
      sql(s"INSERT INTO parts_cap VALUES ($i)")
      assert(parts("parts_cap") == i)
    }
    sql(s"INSERT INTO parts_cap VALUES (${ChSql.MaxParts + 1})")
    assert(parts("parts_cap") == 1)
    assert(keys("parts_cap") == (1 to ChSql.MaxParts + 1).map(_.toLong))
    sql("DROP TABLE parts_cap")
  }

  test("a materialized view's trigger sees only the inserted block") {
    sql("CREATE TABLE parts_src (k Int64) ENGINE = MergeTree ORDER BY k")
    sql("CREATE MATERIALIZED VIEW parts_mv AS " +
      "SELECT count(*) AS n, sum(k) AS s FROM parts_src")
    sql("INSERT INTO parts_src VALUES (1), (2)")
    sql("INSERT INTO parts_src VALUES (10), (20), (30)")
    assert(sql("SELECT n, s FROM parts_mv ORDER BY n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L), (3L, 60L)))
    sql("DROP TABLE parts_mv")
    sql("DROP TABLE parts_src")
  }

  test("INSERT into a fixture view writes it once as part 0, then appends") {
    // a parquet scan the front door did not write, like a fixture table
    val fixture = s"${System.getProperty("java.io.tmpdir")}/graft_parts_spec_region"
    spark.range(5).selectExpr("CAST(id AS INT) AS r_regionkey", "CAST(id AS STRING) AS r_name")
      .write.mode("overwrite").parquet(fixture)
    spark.read.parquet(fixture).createOrReplaceTempView("parts_region")
    sql("INSERT INTO parts_region SELECT r_regionkey + 100 AS r_regionkey, " +
      "r_name FROM parts_region")
    assert(parts("parts_region") == 2)
    sql("INSERT INTO parts_region SELECT r_regionkey + 1000 AS r_regionkey, " +
      "r_name FROM parts_region WHERE r_regionkey = 0")
    assert(parts("parts_region") == 3)
    assert(sql("SELECT r_regionkey FROM parts_region ORDER BY r_regionkey")
      .collect().map(_.getInt(0)).toSeq ==
      Seq(0, 1, 2, 3, 4, 100, 101, 102, 103, 104, 1000))
    spark.catalog.dropTempView("parts_region")
  }

  test("INSERT into a PARTITION BY table keeps partition pruning") {
    sql("CREATE TABLE parts_p ENGINE = MergeTree PARTITION BY g ORDER BY k AS " +
      "SELECT number AS k, CAST(number % 4 AS INT) AS g FROM numbers(40)")
    sql("INSERT INTO parts_p SELECT number + 100 AS k, " +
      "CAST(number % 4 AS INT) AS g FROM numbers(40)")
    assert(parts("parts_p") == 2)
    val q = sql("SELECT count(*) AS n, sum(k) AS s FROM parts_p WHERE g = 1")
    val row = q.collect().head
    assert(row.getLong(0) == 20L)
    assert(row.getLong(1) == (0L until 40L).filter(_ % 4 == 1).map(n => 2 * n + 100).sum)
    // one scan per part, each pruned to its own g=1 files
    val scans = Explain.executedNodes(q.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.size == 2 && scans.forall(_.partitionFilters.nonEmpty))
    val files = spark.table("parts_p").inputFiles.toSeq
    val matching = files.count(_.contains("/g=1/"))
    assert(matching >= 2 && matching < files.size)
    val read = scans.map(_.metrics("numFiles").value).sum
    assert(read == matching.toLong, s"files read $read, want $matching of ${files.size}")
    sql("DROP TABLE parts_p")
  }

  test("an INSERT's write tasks write only the block's rows") {
    sql("CREATE TABLE parts_w ENGINE = MergeTree ORDER BY k AS " +
      "SELECT number AS k FROM numbers(500)")
    val sc = spark.sparkContext
    val written = new AtomicLong()
    val marker = "parts-spec-drain"
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.outputMetrics.recordsWritten))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sql("INSERT INTO parts_w SELECT number + 1000 AS k FROM numbers(7)")
      // events reach a listener in order: once the marker job has
      // ended, every task of the INSERT has been counted
      sc.setJobDescription(marker)
      spark.range(1).count()
      sc.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS))
      assert(written.get == 7L)
    } finally sc.removeSparkListener(listener)
    assert(sql("SELECT count(*) AS n FROM parts_w").collect().head.getLong(0) == 507L)
    sql("DROP TABLE parts_w")
  }
}
