package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness must surface broken queries, not time them:
  * r11's init break made 24 queries "complete" in 0.02 s (analysis
  * failure swallowed by the catch) and the rc-0 total looked like a
  * speedup. This pins: a throwing query is reported ok=false with its
  * exception class on stderr, a working one ok=true, and main()'s red
  * path is `exists(!_._3)`.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("runAll marks a throwing query failed and a healthy one ok") {
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "good" -> ((s, _) => s.range(10).toDF("id")),
      "broken" -> ((s, _) => s.sql("SELECT definitely_not_a_function(1)")))
    val err = new java.io.ByteArrayOutputStream()
    val results = Console.withErr(err) {
      Bench.runAll(spark, "/root/testdata/sf0.001", qs)
    }
    val byName = results.map(r => r._1 -> r._3).toMap
    assert(byName("good"))
    assert(!byName("broken"))
    // main() exits nonzero exactly when this predicate holds
    assert(results.exists(!_._3))
    // the failure keeps its cause: one stderr line naming the class
    val reported = err.toString("UTF-8").linesIterator
      .filter(_.startsWith("Bench: ")).toList
    assert(reported.size == 1, reported)
    assert(reported.head.startsWith(
      "Bench: broken failed: org.apache.spark.sql.AnalysisException"),
      reported.head)
  }
}
