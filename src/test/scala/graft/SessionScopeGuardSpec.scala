package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library state that outlives a query lives in [[SessionCache]] and
  * nowhere else: no other main source may declare a concurrent or
  * linked map (or a set built on one) whose type mentions
  * `SparkSession` — such a field is a JVM-global cache that keeps
  * sessions alive with its own bound and lifetime.
  */
class SessionScopeGuardSpec extends AnyFunSuite {
  private val mapType =
    """\b(ConcurrentHashMap|TrieMap|newSetFromMap|LinkedHashMap)\b""".r
  private val declStart = """^(\s*)(?:[\w\[\]@]+\s+)*(?:val|var)\s+\w+""".r

  /** Each `val`/`var` declaration with its continuation lines (the
    * more-indented lines that follow it) that mentions both a map type
    * and `SparkSession`, as "line: first line".
    */
  private def offenders(lines: Seq[String]): Seq[String] =
    lines.indices.flatMap { i =>
      declStart.findPrefixMatchOf(lines(i)).flatMap { m =>
        val indent = m.group(1).length
        val decl = (lines(i) +: lines.drop(i + 1).takeWhile { l =>
          l.trim.nonEmpty && l.takeWhile(_ == ' ').length > indent
        }).mkString("\n")
        if (mapType.findFirstIn(decl).isDefined && decl.contains("SparkSession"))
          Some(s"${i + 1}: ${lines(i).trim}")
        else None
      }
    }

  test("the scanner flags a multi-line session-keyed map field") {
    val src = Seq(
      "object X {",
      "  private val seen =",
      "    java.util.Collections.newSetFromMap(",
      "      new java.util.concurrent.ConcurrentHashMap[SparkSession,",
      "        java.lang.Boolean]())",
      "  private val names = scala.collection.concurrent.TrieMap[String, Int]()",
      "  def f(s: SparkSession): Unit = ()",
      "}")
    assert(offenders(src) == Seq("2: private val seen ="))
  }

  test("no main source but SessionCache holds a session-keyed map") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "SessionCache.scala").toList
    assert(files.nonEmpty)
    val found = files.flatMap { (p: Path) =>
      offenders(Files.readAllLines(p).asScala.toSeq).map(o => s"$p:$o")
    }
    assert(found.isEmpty,
      "session-keyed JVM-global state outside SessionCache:\n" +
        found.mkString("\n"))
  }
}
