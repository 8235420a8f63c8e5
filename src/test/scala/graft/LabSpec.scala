package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lab's conf A/B hook: `SPARK_GRAFT_LAB_CONF="k=v;k=v"`. */
class LabSpec extends AnyFunSuite {
  test("conf entries parse as key=value; an entry without '=' is refused by name") {
    assert(Lab.confPairs("a=1;;b=x=y") == Seq("a" -> "1", "b" -> "x=y"))
    val e = intercept[IllegalArgumentException](Lab.confPairs("a=1;oops"))
    assert(e.getMessage.contains("'oops'"))
  }
}
