package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one `GRAFT_SPARK_EXTRA` parser shared by Verify, Bench and
  * StProfile: well-formed pairs pass through in order, and a malformed
  * token fails with a message naming it. */
class GraftSessionsSpec extends AnyFunSuite {

  test("GRAFT_SPARK_EXTRA pairs parse in order; empty tokens are skipped") {
    assert(GraftSessions.parseExtraConf(
        "spark.x=1;;spark.y=a=b;spark.z=") ==
      Seq("spark.x" -> "1", "spark.y" -> "a=b", "spark.z" -> ""))
    assert(GraftSessions.parseExtraConf("").isEmpty)
  }

  test("a GRAFT_SPARK_EXTRA token without a key=value shape is named") {
    Seq("spark.x=1;foo" -> "'foo'", "=1" -> "'=1'").foreach {
      case (spec, token) =>
        val e = intercept[IllegalArgumentException](
          GraftSessions.parseExtraConf(spec))
        assert(e.getMessage.contains(token), e.getMessage)
    }
  }
}
