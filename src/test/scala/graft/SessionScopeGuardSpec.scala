package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library state that outlives a query lives in [[SessionCache]] and
  * nowhere else: no other main source may declare a concurrent or
  * linked map (or a set built on one) whose type mentions
  * `SparkSession` — such a field is a JVM-global cache that keeps
  * sessions alive with its own bound and lifetime. Nor may an object
  * hold a `var`, a mutable collection or counter, or an instance of a
  * class with such members, unless [[SessionScopeGuardSpec.allowed]]
  * names it with the reason it is not session state.
  */
class SessionScopeGuardSpec extends AnyFunSuite {
  import SessionScopeGuardSpec._

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

  test("the object scanner flags mutable fields of objects only") {
    val src = Seq(
      "object A {",
      "  private val m = scala.collection.concurrent.TrieMap[String, Int]()",
      "  @volatile var n = 0 // a var",
      "  val re = \"\"\"{\"\"\".r",
      "  private val p = new Box()",
      "  final class Box(f: Int => Int) {",
      "    private val q = new java.util.ArrayDeque[Int]()",
      "  }",
      "  def f(): Unit = { val local = new java.util.concurrent.atomic.AtomicLong() }",
      "  object B {",
      "    private[graft] val seq =",
      "      new java.util.concurrent.atomic.AtomicLong()",
      "    val fixed = Map(1 -> 2)",
      "  }",
      "}",
      "class C {",
      "  private val cache = new java.util.HashMap[Int, Int]()",
      "}").mkString("\n")
    val classes = mutableClasses(Seq(src))
    assert(classes == Set("Box", "C"))
    assert(objectState(src, classes).map(_._1) == Seq("A.m", "A.n", "A.p", "B.seq"))
  }

  test("no object in a main source holds mutable state outside the allowlist") {
    val srcs = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toList
    assert(srcs.nonEmpty)
    val classes = mutableClasses(srcs)
    val found = srcs.flatMap(objectState(_, classes))
    val unlisted = found.filterNot(f => allowed.contains(f._1))
    assert(unlisted.isEmpty, "object-level mutable state; move it into " +
      "SessionCache or allowlist it with a reason:\n" +
      unlisted.map { case (n, l) => s"$n: $l" }.mkString("\n"))
    val stale = allowed.keySet -- found.map(_._1)
    assert(stale.isEmpty, s"allowlisted but not found: $stale")
  }
}

object SessionScopeGuardSpec {
  /** Object-level mutable state that is not per-session state, each
    * with the reason it may stay JVM-global.
    */
  val allowed: Map[String, String] = Map(
    "SessionCache.states" -> "the one map from a session to its state",
    "ChSql.sysSeq" -> "name uniquifier for generated temp views",
    "ChSql.joinSeq" -> "name uniquifier for rewritten join aliases",
    "ChSql.mutationSeq" -> "name uniquifier for part directories and MV block views",
    "ChSql.indexRoutedCount" ->
      "a monotone counter specs read as a before/after delta; holds no session",
    "ChSql.sampleNApproxThreshold" -> ("a constant cutoff that " +
      "ChSqlComboSpec lowers to reach the approximate SAMPLE n path"),
    "FeatureHashImpl.planeCache" ->
      "a pure memo of seeded random planes by shape, read on executors",
    "Sketches.md5Local" -> "a per-thread MessageDigest, reset on every use",
    "ClickBenchQueries.suiteBuf" -> "filled once at object init, then read only")

  /** Comments blanked, string and char literals emptied; newlines kept,
    * so braces and keywords inside them do not count.
    */
  private val token =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r
  private def code(src: String): String = token.replaceAllIn(src, m =>
    scala.util.matching.Regex.quoteReplacement(
      (if (m.matched.startsWith("/")) "" else "\"\"") +
        m.matched.filter(_ == '\n')))

  private val mutableType = ("""\b(TrieMap|ConcurrentHashMap|ConcurrentLinked\w*|""" +
    """newKeySet|newSetFromMap|(Linked|Weak|Identity)?Hash(Map|Set)|ArrayDeque|""" +
    """ArrayBuffer|ListBuffer|ArrayList|Atomic\w+|synchronized\w+|mutable\.\w+|""" +
    """ThreadLocal|Random)\b""").r
  // no `=>`: a class's function-typed parameter has one before its brace
  private val headerKw =
    """\b(object|class|trait|def|val|var|new|if|else|for|while|match|try|do|case)\b""".r
  private val declRe =
    """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|@\w+\s+|(?:lazy|final|override|implicit)\s+)*(val|var)\s+(\w+)""".r

  /** A brace scope: the body of object `name`, of class or trait
    * `name`, or anything else.
    */
  private final case class Scope(kind: String, name: String)

  /** Each line of `src` (as code) with its innermost scope at its start. */
  private def scoped(src: String): Seq[(String, Option[Scope])] = {
    var stack = List.empty[Scope]
    val header = new StringBuilder
    code(src).split("\n", -1).toSeq.map { line =>
      val at = stack.headOption
      line.foreach {
        case '{' =>
          val h = header.toString
          val kw = headerKw.findAllMatchIn(h).map(_.matched).toSeq.lastOption
          val name = kw.flatMap(k => (k + """\s+(\w+)""").r.findAllMatchIn(h)
            .toSeq.lastOption.map(_.group(1)))
          stack = (kw, name) match {
            case (Some("object"), Some(n)) => Scope("object", n) :: stack
            case (Some("class" | "trait"), Some(n)) => Scope("class", n) :: stack
            case _ => Scope("block", "") :: stack
          }
          header.clear()
        case '}' => stack = stack.drop(1); header.clear()
        case ';' => header.clear()
        case c => header.append(c)
      }
      header.append('\n')
      (line, at)
    }
  }

  /** Declarations of `kind` scopes, as (scope name, declaration text
    * with its more-indented continuation lines, first line, mutable).
    */
  private def decls(src: String, kind: String, classes: Set[String])
      : Seq[(String, String, String)] = {
    val lines = scoped(src)
    val newClass = if (classes.isEmpty) None
      else Some(("""\bnew\s+(""" + classes.mkString("|") + """)\b""").r)
    lines.indices.flatMap { i =>
      val (line, at) = lines(i)
      declRe.findPrefixMatchOf(line).filter(_ => at.exists(_.kind == kind)).flatMap { m =>
        val indent = line.takeWhile(_ == ' ').length
        val decl = (line +: lines.drop(i + 1).map(_._1).takeWhile { l =>
          l.trim.nonEmpty && l.takeWhile(_ == ' ').length > indent
        }).mkString("\n")
        val mutable = m.group(1) == "var" ||
          mutableType.findFirstIn(decl).isDefined ||
          newClass.exists(_.findFirstIn(decl).isDefined)
        if (mutable) Some((s"${at.get.name}.${m.group(2)}", line.trim, at.get.name))
        else None
      }
    }
  }

  /** Names of classes and traits that declare a mutable member. */
  def mutableClasses(srcs: Seq[String]): Set[String] =
    srcs.flatMap(decls(_, "class", Set.empty)).map(_._3).toSet

  /** Mutable fields of objects in `src`, as ("Object.field", line). */
  def objectState(src: String, classes: Set[String]): Seq[(String, String)] =
    decls(src, "object", classes).map(d => (d._1, d._2))
}
