package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, SubqueryAlias, Union, View}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** MergeTree-style storage: a table is a list of immutable parquet
  * PARTS, and readers scan all of them. An `INSERT` writes one new
  * part; `ALTER TABLE … DELETE / UPDATE` (upstream's mutations) and
  * merges rewrite the parts into one. Each rewrite is one distributed
  * scan+write (no row-level locking, no tombstones), which is the
  * part-rewrite cost model ClickHouse documents, and the pattern
  * scales: at 100 TB the rewrite is a partition-parallel job and
  * untouched partitions can be skipped by pushing `cond` into
  * partition pruning.
  */
object Mutations {

  /** Writes `df` as one part at `dest` (hive-partitioned by
    * `partitionBy`) and reads it back with the schema it just wrote,
    * so the read runs no parquet footer-inference job. A frame the
    * optimizer proves empty (an empty CREATE, TRUNCATE) becomes a
    * part directory without files, which readers skip for free.
    */
  def writePart(df: DataFrame, dest: String,
      partitionBy: Seq[String] = Nil): DataFrame = {
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.data.isEmpty =>
        val p = new Path(dest)
        p.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).mkdirs(p)
      case _ =>
        val w = df.write.mode("overwrite")
        (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(dest)
    }
    readParts(df.sparkSession, Seq(dest), df.schema, partitionBy.nonEmpty)
  }

  /** The part directories `dirs`, all of `schema`, as one frame: one
    * scan over all of them, or for hive-partitioned parts a union of
    * one scan per part (partition discovery takes a single base
    * directory), each pruning its own partitions.
    */
  def readParts(spark: SparkSession, dirs: Seq[String], schema: StructType,
      partitioned: Boolean): DataFrame =
    if (!partitioned) spark.read.schema(schema).parquet(dirs: _*)
    else dirs.map(d => spark.read.schema(schema).parquet(d)).reduce(_ union _)

  /** The part directories and partition columns behind `df` when it is
    * a [[readParts]] frame of directories under `root`; None for any
    * other plan (a fixture view, a projection, a filtered frame).
    */
  def partsOf(df: DataFrame, root: String): Option[(Seq[String], Seq[String])] = {
    def scans(p: LogicalPlan): Seq[Option[HadoopFsRelation]] = p match {
      case SubqueryAlias(_, c) => scans(c)
      case v: View => scans(v.child)
      case u: Union if !u.byName && !u.allowMissingCol => u.children.flatMap(scans)
      case lr: LogicalRelation => Seq(Some(lr.relation).collect {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] => fs
      })
      case _ => Seq(None)
    }
    val fss = scans(df.queryExecution.analyzed)
    if (fss.exists(_.isEmpty)) return None
    val dirs = fss.flatMap(_.get.location.rootPaths.map(_.toUri.getPath))
    val cols = fss.map(_.get.partitionSchema.fieldNames.toSeq).distinct
    if (dirs.nonEmpty && dirs.forall(_.startsWith(root + "/")) && cols.size == 1)
      Some((dirs, cols.head))
    else None
  }

  /** `ALTER TABLE … DELETE WHERE cond` → one part without the matching
    * rows, written to `dest`. Returns the new part as a DataFrame.
    */
  def deleteWhere(df: DataFrame, cond: Column, dest: String,
      partitionBy: Seq[String] = Nil): DataFrame =
    writePart(df.filter(!coalesce(cond, lit(false))), dest, partitionBy)

  /** `ALTER TABLE … UPDATE c1 = e1, … WHERE cond` → one part with the
    * assignments applied to matching rows.
    */
  def updateWhere(df: DataFrame, cond: Column, set: Map[String, Column],
      dest: String, partitionBy: Seq[String] = Nil): DataFrame = {
    val patched = set.foldLeft(df) { case (d, (name, value)) =>
      d.withColumn(name, when(coalesce(cond, lit(false)), value).otherwise(col(name)))
    }
    writePart(patched, dest, partitionBy)
  }
}
