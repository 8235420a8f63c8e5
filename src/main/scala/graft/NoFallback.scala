package graft

/** Codegen-fallback hunter: runs the ENTIRE probe battery plus every
  * declared `SparkEntry` query with `spark.sql.codegen.fallback=false`,
  * so any expression tree whose generated code fails to compile — and
  * would otherwise silently run interpreted, a fast-path loss invisible
  * to every correctness gate — becomes a hard failure here.
  *
  * Wired into `tools/preflight.sh` as a standing gate (round-15 verdict
  * task 2). Exit code != 0 on any offender; each is printed with the
  * first line of its compile error.
  *
  * `runMain graft.NoFallback [sfDir [name...]]` (default sf0.001 — the
  * sweep is about compilation, not data volume, so the smallest fixture
  * is right; trailing names restrict to those probes/queries, and print
  * the full stack for fast iteration on a single offender).
  */
object NoFallback {
  def main(argv: Array[String]): Unit = {
    val sfDir = argv.headOption.getOrElse("/root/testdata/sf0.001")
    val only: Set[String] = argv.drop(1).toSet
    // two distinct fallback paths, both forced loud: wholeStage
    // compile errors (codegen.fallback) AND the interpreted-object
    // fallback inside UnsafeProjection/MutableProjection/Ordering
    // (factoryMode — the one that produced r14's silent
    // "Expr codegen error and falling back to interpreter mode" WARN)
    val spark = Harness.session(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    // single-offender mode keeps WARN+ so the CodeGenerator dumps the
    // failing generated code; the full sweep stays quiet
    spark.sparkContext.setLogLevel(if (argv.length > 1) "WARN" else "ERROR")
    Graft.init(spark, sfDir)

    def short(e: Throwable): String = {
      // the compile error is usually a cause or two down the chain
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse(t.getClass.getSimpleName))
        .toSeq
      msgs.lastOption.getOrElse("").linesIterator.take(1).mkString
    }

    // A refusal probe may only fail with ITS pinned refusal message
    // (Probe.refusalSignatures) — any other failure (e.g. a codegen
    // compile error, the very thing this gate hunts) still counts.
    def isPinnedRefusal(name: String, e: Throwable): Boolean =
      Probe.refusalSignatures.get(name).exists { subs =>
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
        subs.forall(chain.contains)
      }

    var bad = List.empty[String]
    var checked = 0
    Probe.queries.foreach { case (name, q) =>
      if (only.isEmpty || only(name)) {
        checked += 1
        try { Graft.sql(spark, q).collect(); () }
        catch {
          case e: Throwable if isPinnedRefusal(name, e) => ()
          case e: Throwable =>
            if (only.nonEmpty) e.printStackTrace()
            bad ::= s"probe:$name :: ${e.getClass.getSimpleName}: ${short(e)}"
        }
      }
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        checked += 1
        try { fn(spark, sfDir).collect(); () }
        catch { case e: Throwable =>
          if (only.nonEmpty) e.printStackTrace()
          bad ::= s"query:$name :: ${e.getClass.getSimpleName}: ${short(e)}"
        }
      }
    }
    bad.reverse.foreach(m => println(s"NOFALLBACK-FAIL $m"))
    println(s"NOFALLBACK-DONE checked=$checked offenders=${bad.size}")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
