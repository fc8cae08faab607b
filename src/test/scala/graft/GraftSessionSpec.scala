package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_CPUS contract, checked on the parser alone: no context
  * is started. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS rejects non-integer and non-positive values, naming the variable") {
    for (v <- Seq("abc", "0", "-2")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_CPUS accepts a positive integer; unset means every available processor") {
    assert(GraftSession.parseCpus(Some("3")) === 3)
    assert(GraftSession.parseCpus(None) === Runtime.getRuntime.availableProcessors)
  }
}
