package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses to a positive core count or fails at startup") {
    assert(Bench.parseCpus(None) == 4)
    assert(Bench.parseCpus(Some("8")) == 8)
    assert(Bench.parseCpus(Some(" 32 ")) == 32)
    for (bad <- Seq("*", "", "0", "-2", "4.5", "eight")) {
      val e = intercept[IllegalArgumentException](Bench.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("SPARK_GRAFT_CPUS with a tool's own default (Sf1Bench: 32)") {
    assert(Bench.parseCpus(None, default = 32) == 32)
    assert(Bench.parseCpus(Some("8"), default = 32) == 8)
    for (bad <- Seq("*", "0", "32x")) {
      val e = intercept[IllegalArgumentException](Bench.parseCpus(Some(bad), default = 32))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
