package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every bundled main opens its session through [[Harness.session]], so
  * their timings and plans share one parallelism and one conf set.
  */
class HarnessSpec extends AnyFunSuite {
  /** Comments blanked (their newlines kept); string and char literals
    * are matched first, so a comment opener inside one stays code.
    */
  private val token =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r
  private def code(src: String): String = token.replaceAllIn(src, m =>
    if (m.matched.startsWith("/")) m.matched.filter(_ == '\n') else
      scala.util.matching.Regex.quoteReplacement(m.matched))

  /** Line numbers of `SparkSession.builder(` in code. */
  private def builderLines(src: String): Seq[Int] =
    code(src).linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains("SparkSession.builder(") => i + 1
    }.toSeq

  test("the scanner skips builder calls in comments and strings") {
    val src = Seq(
      "/** Use as",
      "  *   SparkSession.builder().getOrCreate()",
      "  */",
      "object X {",
      "  val glob = \"/data/*.parquet\" // SparkSession.builder()",
      "  val s = SparkSession.builder().getOrCreate()",
      "  val q = '\"'; /* SparkSession.builder() */",
      "}").mkString("\n")
    assert(builderLines(src) == Seq(6))
  }

  test("no main source but Harness builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Harness.scala").toList
    assert(files.nonEmpty)
    val found = files.flatMap { (p: Path) =>
      builderLines(Files.readString(p)).map(l => s"$p:$l")
    }
    assert(found.isEmpty,
      "SparkSession.builder( outside Harness:\n" + found.mkString("\n"))
  }

  /** Runs `body` with the given system properties set (Some) or
    * cleared (None), then restores them. The forked test JVM gets
    * build.sbt's `-D`s for the UI, the zone and nanosAsLong.
    */
  private def withProps[T](props: (String, Option[String])*)(body: => T): T = {
    val before = props.map { case (k, _) => k -> sys.props.get(k) }
    def set(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
    set(props)
    try body finally set(before)
  }

  test("the harness settings for n cpus") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.ui.enabled") ++
      Tuned.defaults.map(_._1)
    val s = withProps(keys.map(_ -> None): _*)(Harness.settings(3))
    assert(s.head == "spark.master" -> "local[3]")
    val m = s.toMap
    assert(m.size == s.size, "a key is set twice")
    assert(m("spark.sql.shuffle.partitions") == "3")
    assert(m("spark.sql.session.timeZone") == "UTC")
    assert(m("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(m("spark.ui.enabled") == "false")
    Tuned.defaults.foreach { case (k, v) => assert(m(k) == v, k) }
    assert(Harness.settings(3, Seq("spark.sql.codegen.fallback" -> "false"))
      .last == "spark.sql.codegen.fallback" -> "false")
  }

  test("a key set as a system property is left to it") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val keys = withProps(key -> Some("256m"))(Harness.settings(5).map(_._1))
    assert(!keys.contains(key))
    assert(keys.contains("spark.sql.shuffle.partitions"))
  }
}
