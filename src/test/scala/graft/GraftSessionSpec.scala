package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: a positive integer is the core count, unset is 4") {
    assert(GraftSession.parseCpus(Some("8")) == 8)
    assert(GraftSession.parseCpus(Some("32")) == 32)
    assert(GraftSession.parseCpus(None) == 4)
  }

  test("SPARK_GRAFT_CPUS: anything else fails, naming the variable") {
    for (bad <- Seq("auto", " 8", "8 ", "0", "-2", "*", "", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
