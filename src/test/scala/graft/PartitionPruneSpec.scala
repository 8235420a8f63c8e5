package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Hive-partition pruning demonstrator (r19 verdict task 8,
  * mt_partition_prune's storage layout): prove that a partition-key
  * predicate prunes whole FILES — PartitionFilters present in the
  * scan, and the files-read metric equals the matching partition
  * directories only, not the table's file count.
  */
class PartitionPruneSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("partition-key predicate prunes files, not just row groups") {
    val dest = s"${System.getProperty("java.io.tmpdir")}/graft_partprune_spec"
    Tables(spark, sfDir, "orders")
      .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM"))
      .repartition($"o_month")
      .write.mode("overwrite").partitionBy("o_month").parquet(dest)

    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val root = new java.io.File(dest)
    val allFiles = parquetFiles(root)
    val monthDirs = root.listFiles().filter(_.getName.startsWith("o_month="))
    val matching = monthDirs
      .filter { d =>
        val m = d.getName.stripPrefix("o_month=")
        m >= "1995-01" && m <= "1995-03"
      }
      .flatMap(parquetFiles)
    assert(monthDirs.length > 10, s"expected many month dirs: ${monthDirs.length}")
    assert(matching.nonEmpty && matching.length < allFiles.length)

    val q = spark.read.parquet(dest)
      .filter($"o_month" >= "1995-01" && $"o_month" <= "1995-03")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val rows = q.collect()
    assert(rows.nonEmpty)

    // AQE nests query stages — Explain.executedNodes is the repo's
    // stage-crossing traversal (same one the plan audits use)
    val nodes = Explain.executedNodes(q.queryExecution.executedPlan)
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}; " +
      s"nodes: ${nodes.map(_.getClass.getSimpleName).mkString(", ")}")
    val scan = scans.head
    // planning-time pruning is visible in the plan text...
    assert(scan.partitionFilters.nonEmpty,
      "partition-key predicate must land in PartitionFilters")
    val planText = scan.toString
    assert(planText.contains("PartitionFilters") &&
      planText.contains("o_month"), "plan must show PartitionFilters on o_month")
    // ...and in the files-READ metric: exactly the matching month
    // directories' files, out of the table's many
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles == matching.length.toLong,
      s"files read $numFiles != matching partition files ${matching.length} " +
        s"(table holds ${allFiles.length})")
    // the pruned count: 3 months of ~80 → a >10x file cut
    assert(numFiles * 10 <= allFiles.length.toLong,
      s"pruning too weak: $numFiles of ${allFiles.length}")
    // correctness of the pruned read vs the unpartitioned original
    val want = Tables(spark, sfDir, "orders")
      .filter(date_format($"o_orderdate", "yyyy-MM").between("1995-01", "1995-03"))
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == want)
  }
}
