package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: only dump the named queries (fast iteration)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // In only-mode, RESOLVE only the requested oracles (filtering after
    // SparkEntry.oracleSql would already have run every dynOracle thunk,
    // triggering work — e.g. the IVF k-means build — for datasets this
    // run never touched).
    val resolved = SparkEntry
      .oracleSqlFor(if (only.isEmpty) None else Some(only))
    val json = resolved
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A DECLARED oracle that failed to resolve (a dynOracle thunk
    // degraded) silently downgrades its entry to the driver's weaker
    // rows-only check — with an EMPTY allowlist that must be LOUD. The
    // dump above is still written first so the rest stays debuggable.
    val missing = SparkEntry.oracleDeclaredNames
      .filter(n => only.isEmpty || only(n))
      .diff(resolved.keySet)
    spark.stop()
    if (missing.nonEmpty) {
      System.err.println(
        s"[verify] declared oracles failed to resolve: ${missing.mkString(", ")}")
      sys.exit(2)
    }
  }
}
