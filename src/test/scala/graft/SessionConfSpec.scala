package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SessionTuning.parseSessionConf]] — the one parser behind
  * SPARK_GRAFT_SESSION_CONF (Bench) and PlanDump's conf argument. */
class SessionConfSpec extends AnyFunSuite {

  test("a semicolon-separated string keeps commas inside values") {
    assert(SessionTuning.parseSessionConf("a=1;b=x,y") == Seq("a" -> "1", "b" -> "x,y"))
  }

  test("a comma-separated string splits on commas") {
    assert(SessionTuning.parseSessionConf("a=1,b=2") == Seq("a" -> "1", "b" -> "2"))
  }

  test("blank entries are skipped; a malformed one is rejected") {
    assert(SessionTuning.parseSessionConf(" a=1 ; ; c=d=e ;") ==
      Seq("a" -> "1", "c" -> "d=e"))
    assert(SessionTuning.parseSessionConf("") == Seq.empty)
    for ((conf, bad) <- Seq("a=1; =x" -> "=x", "a=1;junk" -> "junk",
        "graft.presentation" -> "graft.presentation")) {
      val e = intercept[IllegalArgumentException](SessionTuning.parseSessionConf(conf))
      assert(e.getMessage.contains(s"\"$bad\""), e.getMessage)
    }
  }
}
