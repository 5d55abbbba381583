package graft.engine

import org.scalatest.funspec.AnyFunSpec

class GraftSessionSuite extends AnyFunSpec {

  it("parses SPARK_GRAFT_CPUS as a positive integer") {
    assert(GraftSession.parseCpus(Some("4")) == 4)
    assert(GraftSession.parseCpus(None) ==
      Runtime.getRuntime.availableProcessors)
  }

  it("rejects a non-integer or non-positive SPARK_GRAFT_CPUS") {
    for (bad <- Seq("abc", "0")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }
}
