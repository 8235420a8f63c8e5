package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ChDialect, GraftFunctions}

/** The dialect's macros parse their bodies on first call: registering
  * them parses nothing, one call parses one body, and later calls reuse
  * it. Since init no longer parses, this spec is what parses every
  * built-in body in tier-1. It also pins that the custom expressions
  * register once per session.
  */
class LazyMacroSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private def parsed(s: SparkSession): Long = ChDialect.macros(s).parsed.get

  test("Graft.init parses no macro body; a call parses its one body once") {
    val fresh = TestSpark.spark.newSession()
    Graft.init(fresh, dir)
    assert(parsed(fresh) == 0)
    def cumSum(): Seq[Int] = Graft.sql(fresh, "SELECT arrayCumSum([1, 2, 3]) AS s")
      .head().getSeq[Int](0)
    assert(cumSum() == Seq(1, 3, 6))
    assert(parsed(fresh) == 1)
    assert(cumSum() == Seq(1, 3, 6))
    assert(parsed(fresh) == 1)

    val second = TestSpark.spark.newSession()
    Graft.init(second, dir)
    assert(parsed(second) == 0)
    assert(parsed(fresh) == 1)
  }

  test("every built-in macro variant parses, once") {
    val fresh = TestSpark.spark.newSession()
    ChDialect.register(fresh)
    val fr = fresh.sessionState.functionRegistry
    val variants = ChDialect.macros(fresh).arities.asScala.toSeq
      .flatMap { case (name, arities) => arities.map(name -> _) }
    assert(variants.size > 300)
    def forceAll(): Unit = {
      val bad = variants.flatMap { case (name, n) =>
        val args: Seq[Expression] = (1 to n).map(Literal(_))
        Try(fr.lookupFunction(FunctionIdentifier(name), args)).failed.toOption
          .map(e => s"$name/$n: ${e.getMessage}")
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    }
    forceAll()
    assert(parsed(fresh) == variants.size)
    forceAll()
    assert(parsed(fresh) == variants.size)
    // the arity error needs no parse
    val e = intercept[IllegalArgumentException] {
      fr.lookupFunction(FunctionIdentifier("mapPopulateSeries"), Seq.empty)
    }
    assert(e.getMessage.contains("expects 1/2/3 argument(s), got 0"))
  }

  test("GraftFunctions.register twice replaces no function") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry").asInstanceOf[Logger]
    val warns = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("function-replaced", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN && e.getMessage.getFormattedMessage
            .contains("replaced a previously registered function"))
          warns.incrementAndGet()
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      val fresh = TestSpark.spark.newSession()
      GraftFunctions.register(fresh)
      GraftFunctions.register(fresh)
      assert(warns.get() == 0)
      // the appender does see a replacement
      fresh.sessionState.functionRegistry.createOrReplaceTempFunction(
        "cosine_sim", (c: Seq[Expression]) => c.head, "built-in")
      assert(warns.get() == 1)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }
}
