package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixture tables (TESTDATA.md /
  * FIXTURES.md). Immutable sorted parquet files are the Spark-native
  * analog of ClickHouse MergeTree parts (SURVEY.md §1.1): columnar,
  * immutable, row-group min/max stats ≈ sparse primary index.
  *
  * At 100 TB these reads become partitioned parquet directories; the
  * loader stays the same — Spark's DataSource v2 handles split
  * planning, predicate pushdown and column pruning per file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped as BOTH ns-precision int64 parquet (read
    * as a long under `spark.sql.legacy.parquet.nanosAsLong=true`) and
    * plain µs timestamp parquet, depending on the fixture generation.
    * Sniff the read schema: a long is ns → convert with INTEGER
    * division (double division would lose precision at 1e18 ns,
    * matching DuckDB's CAST truncation); a timestamp is already µs.
    */
  // The fixture files are immutable, so the (session, dir, table)
  // DataFrame — really just its analyzed plan + resolved FileIndex —
  // is reusable across queries. Re-running spark.read.parquet for
  // every query re-listed files and re-read footers: a measurable
  // per-query driver cost once a session runs hundreds of queries.
  // The frame is a "table" entry of the bounded SessionCache.
  // (Front-door writes go to new part directories and re-point the
  // temp view; they never invalidate these source frames.)

  /** Fixture files are written as a SINGLE parquet row group, and
    * Spark assigns a row group to the one byte-range split containing
    * its start — so however small maxPartitionBytes is set, a
    * single-row-group file scans on ONE core. That serializes every
    * heavy aggregate locally (measured: all ~1.5 s bench entries were
    * one-task lineitem/events passes). Repartition ONLY when the
    * source offers far fewer input files than cores AND is big enough
    * to matter — at any real scale (many files ≥ cores) the condition
    * is false and the plan is untouched; locally it restores the
    * parallelism a multi-file layout would have given for free.
    * Filters and column pruning push through Repartition, so scan
    * pruning (`PushedFilters`/`ReadSchema`) is unchanged.
    */
  /** Decision predicate, pure for testability (TablesSpec): few files
    * relative to cores AND big enough to matter AND small enough that
    * an always-on MEMORY_AND_DISK cache is safe. The upper cutoff is
    * the load-bearing scale guard: without it a single multi-GB
    * parquet file (2 files ≤ cores holds!) would be silently
    * repartitioned AND persisted forever — an unbounded cache this
    * "inert at real scale" helper must never create.
    */
  private[graft] def shouldParallelize(files: Int, cores: Int, bytes: Long): Boolean =
    files * 2 <= cores && bytes > (1L << 18) && bytes <= (1L << 28)

  private def parallelize(spark: SparkSession, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length * 2 > cores) return df
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val bytes = files.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    if (shouldParallelize(files.length, cores, bytes))
      // persist too: the sessions here run hundreds of queries over
      // the same immutable fixture, so pay the one repartition shuffle
      // once and serve every later query from parallel in-memory
      // columnar batches (DISK spillover keeps it safe; at fixture
      // scale the whole table set is ~tens of MB). At real scale the
      // guards above mean neither the shuffle nor the cache exists.
      df.repartition(cores)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionCache(spark).getOrBuild("table", (dir, name)) {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      // parallelize last: the cached frame is the persisted one, so an
      // eviction unpersists it
      parallelize(spark, if (name == "events")
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case org.apache.spark.sql.types.TimestampType => df
          case _ =>
            // tz-naive µs parquet loads as TIMESTAMP_NTZ; event-time
            // (withWatermark/window) and unix_micros need TIMESTAMP.
            // Session TZ is pinned to UTC so the instant is unchanged.
            df.withColumn("ts",
              col("ts").cast(org.apache.spark.sql.types.TimestampType))
        }
      else df)
    }
}
