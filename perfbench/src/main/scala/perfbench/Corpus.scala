package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A list of the declared queries (`graft.SparkEntry.queries`), each
  * built through its `QDef.fn` and evaluated into Spark's `noop` sink,
  * the way the project's bench runs it. Results are written once more,
  * outside the timed interval, for the DuckDB oracle check in `run.py`.
  */
object Corpus {
  private type Fn = (SparkSession, String) => DataFrame

  /** The query list named by the run, in file order; names the program
    * no longer declares are reported as failed operations.
    */
  private def load(ctx: Main.Ctx): (Seq[String], Map[String, Fn]) = {
    val fns = graft.SparkEntry.queries
    val listed = Files.readAllLines(java.nio.file.Paths.get(ctx.corpus))
      .toArray(Array[String]()).toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    listed.filterNot(fns.contains).foreach { q =>
      ctx.rep.attempted += 1
      ctx.rep.wrong(q, "query is not declared in SparkEntry.queries")
    }
    (listed.filter(fns.contains), fns)
  }

  private def runOne(ctx: Main.Ctx, q: String, fn: Fn): Option[Double] =
    Loop.attempt(ctx, q) {
      ctx.trace.op(q) {
        val df = ctx.trace.span("build")(fn(ctx.spark, ctx.fixture))
        df.write.format("noop").mode("overwrite").save()
      }._2
    }

  /** A cold pass, each query timed on its first execution in this fresh
    * JVM and session, then whole warm passes in fresh seeded orders until
    * the run's time is spent. Traced runs trace every other warm pass, so
    * the passes in between give the untraced twin.
    */
  def run(ctx: Main.Ctx): Unit = {
    val (qs, fns) = load(ctx)
    def pass(): Double = ctx.rng.shuffle(qs)
      .flatMap(q => runOne(ctx, q, fns(q)).map { ms => ctx.read(q, ms); ms }).sum / 1000
    ctx.coldPass(pass())
    var i = 0
    while (ctx.more(i)) { ctx.warmPass(i)(pass()); i += 1 }
    writeResults(ctx, qs, fns)
  }

  /** Every query's rows as parquet files, plus the oracle SQL the
    * program declares for them.
    */
  private def writeResults(ctx: Main.Ctx, qs: Seq[String], fns: Map[String, Fn]): Unit = {
    ctx.trace.detach()
    val t0 = System.nanoTime()
    val dir = ctx.work.resolve("results")
    qs.foreach { q =>
      try fns(q)(ctx.spark, ctx.fixture).write.mode("overwrite")
        .parquet(dir.resolve(q).toString)
      catch { case e: Exception => ctx.rep.fail(q, e) }
    }
    val oracle = graft.SparkEntry.oracleSqlFor(Some(qs.toSet))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("oracle_sql.json"), Json(oracle))
    ctx.rep.oracle = qs
    ctx.rep.extra("results_write_s") = (System.nanoTime() - t0) / 1e9
  }
}
