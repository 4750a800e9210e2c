package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_CPUS parsing: a positive integer or unset, nothing else. */
class SessionSpec extends AnyFunSuite {
  test("unset means every processor the JVM sees") {
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
  }

  test("a positive integer is the core count") {
    assert(Session.parseCpus(Some("3")) == 3)
  }

  test("anything else names the variable and the value") {
    for (bad <- Seq("abc", "0", "-2", "", "1.5")) {
      val msg = intercept[IllegalArgumentException](
        Session.parseCpus(Some(bad))).getMessage
      assert(msg.contains("SPARK_GRAFT_CPUS"))
      assert(msg.contains(s"'$bad'"))
    }
  }
}
